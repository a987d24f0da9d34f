"""Turn the operation records of one run into the reported metrics."""

from __future__ import annotations

import statistics
from dataclasses import dataclass, field

from perfbench.collect import SparkRecord, driver_gap_s
from perfbench.spans import Span, innermost_span, self_times
from perfbench.workloads import PER_LAYER


@dataclass
class OpRun:
    """One execution of one operation in a measured pass."""

    op: str
    pass_no: int
    wall_s: float
    start_wall: float  # seconds since the epoch
    error: str | None = None
    spark: SparkRecord = field(default_factory=SparkRecord)
    cpu_s: float = 0.0
    pyworker_cpu_s: float = 0.0
    write_bytes: int = 0  # written to files by the process tree


def _passes(runs: list[OpRun]) -> dict[int, list[OpRun]]:
    passes: dict[int, list[OpRun]] = {}
    for r in runs:
        passes.setdefault(r.pass_no, []).append(r)
    return passes


def end_to_end(setup_s: float, runs: list[OpRun]) -> dict:
    """``pass_s`` is the wall time of a typical pass: the sum over
    operations of each operation's median latency, so a burst of load from
    elsewhere on the host that slows one operation of a pass does not
    count the whole pass as slow."""
    walls: dict[str, list[float]] = {}
    for r in runs:
        walls.setdefault(r.op, []).append(r.wall_s)
    return {
        "setup_s": setup_s,
        "pass_s": sum(statistics.median(w) for w in walls.values()),
    }


def tail_latency(walls: list[float]) -> float | None:
    """The p90, when at least ten samples lie beyond it."""
    if len(walls) < 100:
        return None
    return statistics.quantiles(walls, n=10, method="inclusive")[-1]


def _add(m: dict, key: str, value: float) -> None:
    m[key] = m.get(key, 0) + value


def _pass_layers(runs: list[OpRun], spans: list[Span], selfs: dict[int, float],
                 wall_offset: float, jobs_by_span: dict[int, int]) -> dict[str, float]:
    """Per-layer totals of one traced pass."""
    m: dict[str, float] = {}
    by_op: dict[str, list[Span]] = {}
    for s in spans:
        by_op.setdefault(s.op, []).append(s)
    for r in runs:
        op_spans = by_op.get(f"p{r.pass_no}:{r.op}", [])
        for s in op_spans:
            _add(m, f"{s.layer}.self_s", selfs[s.span_id])
            _add(m, f"{s.layer}.calls", 1)
            _add(m, "spans", 1)
        for job in r.spark.jobs:
            s = innermost_span(op_spans, job.submitted_s - wall_offset)
            if s is not None:
                jobs_by_span[s.span_id] = jobs_by_span.get(s.span_id, 0) + 1
                _add(m, f"{s.layer}.jobs", 1)
        sp = r.spark
        for key, value in (
            ("spark.jobs", len(sp.jobs)),
            ("spark.stages", sp.stages),
            ("spark.tasks", sp.tasks),
            ("spark.failed_tasks", sp.failed_tasks),
            ("spark.driver_gap_s", driver_gap_s((r.start_wall, r.start_wall + r.wall_s), sp.jobs)),
            ("spark.executor_run_s", sp.executor_run_s),
            ("spark.executor_cpu_s", sp.executor_cpu_s),
            ("spark.gc_s", sp.gc_s),
            ("spark.input_mb", sp.input_bytes / 1e6),
            ("spark.output_mb", sp.output_bytes / 1e6),
            ("spark.shuffle_read_mb", sp.shuffle_read_bytes / 1e6),
            ("spark.shuffle_write_mb", sp.shuffle_write_bytes / 1e6),
            ("spark.spill_mb", sp.spill_bytes / 1e6),
            ("spark.pyworker_cpu_s", r.pyworker_cpu_s),
            ("proc.cpu_s", r.cpu_s),
            ("proc.write_mb", r.write_bytes / 1e6),
        ):
            _add(m, key, value)
        m["spark.peak_exec_mem_mb"] = max(
            m.get("spark.peak_exec_mem_mb", 0.0), sp.peak_exec_mem_bytes / 1e6
        )
    run_s, in_mb = m.get("spark.executor_run_s", 0.0), m.get("spark.input_mb", 0.0)
    m["spark.cpu_per_run"] = m.get("spark.executor_cpu_s", 0.0) / run_s if run_s else 0.0
    # bytes the process tree wrote to files (codec output, shuffle and
    # spill files) per byte Spark's scans report reading
    m["sources.write_amp"] = m.get("proc.write_mb", 0.0) / in_mb if in_mb else 0.0
    return m


def per_layer(runs: list[OpRun], spans: list[Span], wall_offset: float,
              peak_rss_mb: float, span_cost_s: float) -> tuple[dict[str, float], dict[int, int]]:
    """Each per-layer metric as the median over passes of the pass's
    total, and the number of jobs each span launched.

    ``trace.overhead_s`` is the time tracing adds to a pass: its number of
    spans times ``span_cost_s``, the measured cost of one traced call over
    an untraced one.  ``proc.peak_rss_mb`` is the sampled peak over all
    measured passes."""
    selfs = self_times(spans)
    jobs_by_span: dict[int, int] = {}
    totals = [
        _pass_layers(p, spans, selfs, wall_offset, jobs_by_span)
        for p in _passes(runs).values()
    ]
    out = {}
    for name, _unit, _better, _moves in PER_LAYER:
        if name == "proc.peak_rss_mb":
            out[name] = peak_rss_mb
        elif name == "trace.overhead_s":
            out[name] = statistics.median(m["spans"] for m in totals) * span_cost_s
        else:
            out[name] = statistics.median(m.get(name, 0) for m in totals)
    return out, jobs_by_span
