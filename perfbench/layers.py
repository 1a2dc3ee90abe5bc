"""Per-layer metrics of a traced run, computed from its span tree.

Spans that hold Spark counters are the ``.build`` and ``.action``
children of each op (see ``spans.SparkCounters``). A ``query_mix``
value is per warm pass (the median over the run's warm passes) unless
its name says ``cold``; an ``ecom_etl`` value covers the whole ETL.
Metrics of a layer the workload does not run read 0.
"""

from __future__ import annotations

import statistics

from big_data_analytics_spark import caching

from spans import jvm_live_heap_mb, jvm_peak_rss_mb
from workloads import PIPELINES, WARM, family, families

_COUNTERS = ("jobs", "stages", "tasks", "executor_run_ms", "executor_cpu_ns",
             "gc_ms", "shuffle_read_bytes", "shuffle_write_bytes",
             "spill_bytes")


def names() -> dict[str, str]:
    """Every per-layer metric name -> its unit."""
    out = {
        "session.get_spark_s": "s", "session.first_job_s": "s",
        "session.load_all_s": "s", "session.jvm_peak_rss_mb": "MB",
        "session.jvm_live_heap_mb": "MB",
    }
    out["queries.call_p50_s"] = "s"
    for p in ("", "cold_"):
        out.update({f"queries.{p}build_s": "s", f"queries.{p}action_s": "s",
                    f"queries.{p}build_jobs": "count",
                    f"queries.{p}action_jobs": "count"})
    out.update({
        "spark.jobs": "count", "spark.stages": "count", "spark.tasks": "count",
        "spark.executor_run_s": "s", "spark.executor_cpu_s": "s",
        "spark.gc_s": "s", "spark.shuffle_read_bytes": "bytes",
        "spark.shuffle_write_bytes": "bytes", "spark.spill_bytes": "bytes",
        "spark.overhead_s": "s", "spark.cold_executor_run_s": "s",
        "spark.cold_overhead_s": "s",
        "caching.entries_added": "count", "caching.entries": "count",
        "caching.hit_ratio": "ratio", "catalog.entries_added": "count",
        "streaming.micro_batches": "count", "streaming.input_rows": "rows",
        "streaming.trigger_ms": "ms", "streaming.add_batch_ms": "ms",
        "streaming.wal_commit_ms": "ms", "streaming.state_rows": "rows",
        "streaming.state_commit_ms": "ms",
    })
    warm_fams = sorted({family(n) for n in WARM})
    for f in warm_fams:
        out[f"family.{f}.wall_s"] = "s"
        out[f"family.{f}.build_jobs"] = "count"
    for f in families():
        out[f"family.{f}.cold_s"] = "s"
    out.update({"pipelines.build_s": "s", "pipelines.action_s": "s",
                "pipelines.build_jobs": "count", "pipelines.report_s": "s"})
    for fn in sorted(PIPELINES):
        out[f"pipelines.{fn}.wall_s"] = "s"
    out["pipelines.write_csv.wall_s"] = "s"
    out.update({
        "datagen.build_s": "s", "datagen.rows": "rows",
        "sources.write_s": "s", "sources.write_s.sessions": "s",
        "sources.write_s.transactions": "s", "sources.bytes_written": "bytes",
        "sources.files_written": "count", "sources.bytes_per_row": "bytes",
    })
    return out


def _spark(rec, ops, slots: int) -> dict:
    tot = dict.fromkeys(_COUNTERS, 0)
    overhead = 0.0
    for ph in (c for op in ops for c in rec.children(op)):
        for k in _COUNTERS:
            tot[k] += ph.attrs.get(k, 0)
        overhead += (ph.seconds
                     - ph.attrs.get("executor_run_ms", 0) / 1e3 / slots)
    return {
        "spark.jobs": tot["jobs"], "spark.stages": tot["stages"],
        "spark.tasks": tot["tasks"],
        "spark.executor_run_s": tot["executor_run_ms"] / 1e3,
        "spark.executor_cpu_s": tot["executor_cpu_ns"] / 1e9,
        "spark.gc_s": tot["gc_ms"] / 1e3,
        "spark.shuffle_read_bytes": tot["shuffle_read_bytes"],
        "spark.shuffle_write_bytes": tot["shuffle_write_bytes"],
        "spark.spill_bytes": tot["spill_bytes"],
        "spark.overhead_s": overhead,
    }


def _split(rec, ops) -> dict:
    """Build/action seconds and job counts summed over ops."""
    out = {"build_s": 0.0, "action_s": 0.0, "build_jobs": 0, "action_jobs": 0}
    for op in ops:
        for ph in rec.children(op):
            kind = "build" if ph.name.endswith(".build") else "action"
            out[f"{kind}_s"] += ph.seconds
            out[f"{kind}_jobs"] += ph.attrs.get("jobs", 0)
    return out


def _median_over(passes, fn) -> float:
    return statistics.median(fn(p) for p in passes)


def _query_mix(run, slots: int) -> dict:
    rec = run.rec
    cold = next(s for s in rec.spans if s.name == "pass.0")
    warm = [s for s in rec.spans if s.name.startswith("pass.")
            and s.attrs.get("kind") == "warm"]
    out = {"queries.call_p50_s": statistics.median(
        c.seconds for p in warm for c in rec.children(p))}
    for k in ("build_s", "action_s", "build_jobs", "action_jobs"):
        out[f"queries.{k}"] = _median_over(
            warm, lambda p: _split(rec, rec.children(p))[k])
        out[f"queries.cold_{k}"] = _split(rec, rec.children(cold))[k]
    for k in _spark(rec, [], slots):
        out[k] = _median_over(
            warm, lambda p: _spark(rec, rec.children(p), slots)[k])
    cold_spark = _spark(rec, rec.children(cold), slots)
    out["spark.cold_executor_run_s"] = cold_spark["spark.executor_run_s"]
    out["spark.cold_overhead_s"] = cold_spark["spark.overhead_s"]

    calls = [c for p in [cold] + warm for c in rec.children(p)]
    out["caching.entries_added"] = sum(c.attrs["cache_added"] for c in calls)
    out["catalog.entries_added"] = sum(c.attrs["catalog_added"] for c in calls)
    owners = {c.attrs["family"] for c in calls
              if c.attrs["cache_added"] > c.attrs["catalog_added"]}
    owned = [c for c in calls if c.attrs["family"] in owners]
    out["caching.hit_ratio"] = (
        sum(c.attrs["cache_added"] == 0 for c in owned) / len(owned)
        if owned else 0.0)

    for f in sorted({family(n) for n in WARM}):
        out[f"family.{f}.wall_s"] = _median_over(warm, lambda p: sum(
            c.seconds for c in rec.children(p) if c.attrs["family"] == f))
        out[f"family.{f}.build_jobs"] = _median_over(warm, lambda p: _split(
            rec, [c for c in rec.children(p)
                  if c.attrs["family"] == f])["build_jobs"])
    for f in families():
        out[f"family.{f}.cold_s"] = sum(
            c.seconds for c in rec.children(cold) if c.attrs["family"] == f)

    b = run.streams.batches
    out.update({
        "streaming.micro_batches": len(b),
        "streaming.input_rows": sum(x["input_rows"] for x in b),
        "streaming.trigger_ms": sum(x["trigger_ms"] for x in b),
        "streaming.add_batch_ms": sum(x["add_batch_ms"] for x in b),
        "streaming.wal_commit_ms": sum(x["wal_commit_ms"] for x in b),
        "streaming.state_rows": max((x["state_rows"] for x in b), default=0),
        "streaming.state_commit_ms": sum(x["state_commit_ms"] for x in b),
    })
    return out


def _ecom_etl(run, slots: int) -> dict:
    rec = run.rec
    by_name = {s.name: s for s in rec.spans}
    ops = [s for s in rec.spans if "ok" in s.attrs]
    out = _spark(rec, ops, slots)
    pipes = [s for s in ops if s.name.startswith("pipeline.")]
    split = _split(rec, pipes)
    out.update({
        "pipelines.build_s": split["build_s"],
        "pipelines.action_s": split["action_s"],
        "pipelines.build_jobs": split["build_jobs"],
        "pipelines.report_s": by_name["report"].seconds,
        "pipelines.write_csv.wall_s": by_name["write.clv_csv"].seconds,
    })
    for fn in PIPELINES:
        out[f"pipelines.{fn}.wall_s"] = by_name[f"pipeline.{fn}"].seconds
    rows = sum(run.extra["rows"].values())
    out.update({
        "datagen.build_s": by_name["datagen.gen_all"].seconds,
        "datagen.rows": rows,
        "sources.write_s": by_name["write"].seconds,
        "sources.write_s.sessions": by_name["write.sessions"].seconds,
        "sources.write_s.transactions": by_name["write.transactions"].seconds,
        "sources.bytes_written": run.extra["bytes"],
        "sources.files_written": run.extra["files"],
        "sources.bytes_per_row": run.extra["bytes"] / rows,
    })
    return out


def compute(workload: str, run, slots: int) -> dict[str, float]:
    out = dict.fromkeys(names(), 0.0)
    by_name = {s.name: s for s in run.rec.spans}
    for k in ("get_spark", "first_job", "load_all"):
        out[f"session.{k}_s"] = by_name[f"session.{k}"].seconds
    out["session.jvm_peak_rss_mb"] = jvm_peak_rss_mb(run.spark)
    out["session.jvm_live_heap_mb"] = jvm_live_heap_mb(run.spark)
    out["caching.entries"] = sum(len(c) for c in caching._REGISTRY)
    part = _query_mix(run, slots) if workload == "query_mix" else _ecom_etl(
        run, slots)
    unknown = set(part) - set(out)
    if unknown:
        raise KeyError(f"per-layer metrics missing from names(): {unknown}")
    out.update(part)
    return out
