"""External-process operators — the Hadoop Streaming contract
(SURVEY.md §2.8/§3.2).

The reference forks the user command per task and speaks a
tab-separated stdin/stdout protocol (contrib/streaming:
PipeMapRed.java:48 process setup; key/value split on the configured
separator and ``stream.num.map.output.key.fields``,
PipeMapper.java:75, PipeMapRed.java:341-346; reducers see the
sorted, grouped stream, PipeReducer.reduce:81).

Spark analog:
- ``pipe_map``: ``rdd.pipe(cmd)`` over serialized lines — one process
  per partition, streamed through stdin/stdout exactly like a map-side
  Streaming task.
- ``pipe_reduce``: repartition by key + sortWithinPartitions *then*
  pipe — reproducing the reduce-side contract (each process sees every
  line of a key consecutively, keys sorted within its partition).

Scale: the external process is per-partition (thousands run in
parallel across executors); partition sizing governs memory. This is
the one operator family that is legitimately RDD-based — the data must
leave the JVM by definition. Output re-enters as a line DataFrame for
further relational processing.
"""

from __future__ import annotations

import contextlib
import shlex
import uuid

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

# stream.stderr.reporter.prefix default (PipeMapRed.java:428-430)
REPORTER_PREFIX = "reporter:"
COUNTER_PREFIX = REPORTER_PREFIX + "counter:"


def _to_lines(df: DataFrame, separator: str) -> DataFrame:
    """Serialize all columns to one tab(-like) separated line column —
    the Streaming wire format (``key<SEP>value`` generalized to n
    columns; nulls become empty fields, PipeMapRed's convention)."""
    cols = [F.coalesce(F.col(c).cast("string"), F.lit("")) for c in df.columns]
    return df.select(F.concat_ws(separator, *cols).alias("line"))


def pipe_map(
    df: DataFrame,
    cmd: str,
    separator: str = "\t",
) -> DataFrame:
    """Map-side pipe: serialize rows to lines, stream through ``cmd``,
    return DataFrame[line string] of the process stdout."""
    spark = df.sparkSession
    lines = _to_lines(df, separator)
    piped = lines.rdd.map(lambda r: r["line"]).pipe(cmd)
    return spark.createDataFrame(piped.map(lambda s: (s,)), "line string")


def pipe_reduce(
    df: DataFrame,
    cmd: str,
    key_cols: list[str],
    sort_cols: list[str] | None = None,
    separator: str = "\t",
    num_partitions: int | None = None,
    combiner: str | None = None,
) -> DataFrame:
    """Reduce-side pipe: co-locate and sort by key first so ``cmd``
    sees the reference's reducer contract (grouped, sorted stdin).

    ``combiner`` is Streaming's ``-combiner`` (StreamJob.java "-combiner"
    option; combiner runs on each map task's sorted output BEFORE the
    shuffle): the command consumes each ORIGINAL partition's key-sorted
    line stream and its stdout — keys still leading fields, the
    ``stream.num.map.output.key.fields`` rule — is what shuffles to the
    reducer. Map-side partial aggregation: shuffle volume drops from
    |rows| to |distinct keys per input partition|, which is the whole
    point at 100 TB fan-in."""
    spark = df.sparkSession
    if combiner is not None:
        from hadoop_20_warehouse_spark.operators.sort import keyfield_partition

        # streaming wire format: key = leading fields
        rest = [c for c in df.columns if c not in key_cols]
        ordered = df.select(*key_cols, *rest)
        pre = ordered.sortWithinPartitions(*key_cols, *(sort_cols or []))
        clines = _to_lines(pre, separator)
        crdd = clines.rdd.map(lambda r: r["line"]).pipe(combiner)
        cdf = spark.createDataFrame(crdd.map(lambda s: (s,)), "line string")
        spec = f"-k1,{len(key_cols)}"
        parted = keyfield_partition(
            cdf,
            "line",
            spec,
            sort_spec=spec,
            separator=separator,
            num_partitions=num_partitions,
        )
        piped = parted.rdd.map(lambda r: r["line"]).pipe(cmd)
        return spark.createDataFrame(piped.map(lambda s: (s,)), "line string")
    parted = df.repartition(num_partitions, *key_cols) if num_partitions else df.repartition(*key_cols)
    sorted_df = parted.sortWithinPartitions(*key_cols, *(sort_cols or []))
    lines = _to_lines(sorted_df, separator)
    piped = lines.rdd.map(lambda r: r["line"]).pipe(cmd)
    return spark.createDataFrame(piped.map(lambda s: (s,)), "line string")


def _wrap_stderr_append(cmd: str) -> tuple[str, str]:
    """Wrap ``cmd`` so its stderr is spooled to a temp file and
    appended to stdout AFTER it exits — ``rdd.pipe`` exposes only
    stdout, and appending after exit avoids interleave corruption from
    block-buffered stdout.

    Every appended stderr line is prefixed with a per-wrap random
    sentinel so the two streams stay unambiguous after the merge
    (ADVICE r3): a stdout data line that happens to start with
    ``reporter:`` stays data, and a non-reporter stderr line (awk
    warning, shell diagnostic) can never leak into the data path —
    the reference routes stderr to task logs only (MRErrorThread,
    PipeMapRed.java:425-514) and parses reporter lines off that
    stream alone.  Returns ``(wrapped_cmd, sentinel)``; downstream
    splits on the sentinel, then applies the reporter-prefix parse to
    the stderr side only."""
    sentinel = f"__SJERR_{uuid.uuid4().hex}__:"
    return (
        "bash -c "
        + shlex.quote(
            f't="$(mktemp)"; {cmd} 2>"$t"; s=$?; '
            f'sed "s/^/{sentinel}/" "$t"; rm -f "$t"; exit $s'
        ),
        sentinel,
    )


def stream_job(
    df: DataFrame,
    mapper: str,
    reducer: str,
    num_key_fields: int = 1,
    combiner: str | None = None,
    separator: str = "\t",
    num_partitions: int | None = None,
) -> tuple[DataFrame, DataFrame]:
    """The full Hadoop Streaming job wiring in one call — exactly what
    ``bin/hadoop jar streaming.jar -mapper m -combiner c -reducer r
    -partitioner KeyFieldBasedPartitioner`` assembles
    (StreamJob.java:457-486 option wiring, :725 job submit):

    1. ``mapper``: external process per input partition; stdout lines
       are map output (``key<SEP>value``, leading ``num_key_fields``
       fields are the key), stderr ``reporter:counter:g,n,amt`` lines
       increment counters (PipeMapRed.java:425-514).
    2. ``combiner`` (optional): runs over each map partition's
       key-sorted output BEFORE the shuffle — shuffle volume drops to
       |distinct keys per partition|.
    3. KeyFieldBasedPartitioner shuffle on the leading key fields +
       KeyFieldBasedComparator sort within partitions (inside
       ``pipe_reduce``).
    4. ``reducer``: external process over the grouped, sorted stream.

    Returns ``(data, counters)``: ``data`` is the reducer's stdout as a
    line DataFrame; ``counters`` is (group, name, amount) with amounts
    summed across all map tasks. The map output is persisted so the
    mapper runs ONCE even though both returned frames read it — the
    caller owns that cached lineage; use ``stream_job_scoped`` in a
    long-lived session to release it deterministically (ADVICE r3)."""
    data, counters, _mapped = _stream_job_frames(
        df,
        mapper,
        reducer,
        num_key_fields=num_key_fields,
        combiner=combiner,
        separator=separator,
        num_partitions=num_partitions,
    )
    return data, counters


@contextlib.contextmanager
def stream_job_scoped(
    df: DataFrame,
    mapper: str,
    reducer: str,
    num_key_fields: int = 1,
    combiner: str | None = None,
    separator: str = "\t",
    num_partitions: int | None = None,
):
    """``stream_job`` with cache hygiene for library use: yields
    ``(data, counters)`` and unpersists the shared map output on exit,
    so repeated jobs in one long-lived session don't accumulate cached
    partitions until LRU eviction (ADVICE r3).  Materialize (collect/
    write) both frames INSIDE the block; after exit they recompute the
    mapper on access."""
    data, counters, mapped = _stream_job_frames(
        df,
        mapper,
        reducer,
        num_key_fields=num_key_fields,
        combiner=combiner,
        separator=separator,
        num_partitions=num_partitions,
    )
    try:
        yield data, counters
    finally:
        mapped.unpersist()


def _stderr_reporter_cols(sentinel: str):
    """(is_err, err_body, parts, is_counter) over a wrapped pipe's
    ``line`` column: the reference's stderr reporter parse
    (PipeMapRed.java:425-514) on sentinel-marked lines only, so stdout
    'reporter:' lines stay data; ``is_counter`` marks well-formed
    3-field ``reporter:counter:`` lines."""
    is_err = F.col("line").startswith(sentinel)
    err_body = F.expr(f"substring(line, {len(sentinel) + 1})")
    parts = F.split(
        F.expr(f"substring(line, {len(sentinel) + len(COUNTER_PREFIX) + 1})"),
        ",",
    )
    is_counter = (
        is_err & err_body.startswith(COUNTER_PREFIX) & (F.size(parts) == 3)
    )
    return is_err, err_body, parts, is_counter


def _stream_job_frames(
    df: DataFrame,
    mapper: str,
    reducer: str,
    num_key_fields: int,
    combiner: str | None,
    separator: str,
    num_partitions: int | None,
) -> tuple[DataFrame, DataFrame, DataFrame]:
    wrapped, sentinel = _wrap_stderr_append(mapper)
    from hadoop_20_warehouse_spark.session import persist_generation

    # keep=4: the mapper-runs-once contract must survive a caller
    # holding several live stream jobs at once (build A, build B,
    # consume A — r7 review); beyond 4 concurrently-live jobs the
    # oldest spool is released and its consumers re-run the external
    # mapper (correct, just re-executed) — warn_on_evict makes that
    # degradation loud, since an external mapper may be side-effectful
    # or non-deterministic (r7 ADVICE).
    mapped = persist_generation(
        "pipe_stderr_spool",
        pipe_map(df, wrapped, separator),
        keep=4,
        warn_on_evict=True,
    )
    is_err, _, parts, is_counter = _stderr_reporter_cols(sentinel)
    counters = (
        mapped.filter(is_counter)
        .select(
            F.element_at(parts, 1).alias("group"),
            F.element_at(parts, 2).alias("name"),
            F.element_at(parts, 3).cast("long").alias("amount"),
        )
        .groupBy("group", "name")
        .agg(F.sum("amount").alias("amount"))
    )
    kv = split_kv(mapped.filter(~is_err), separator, num_key_fields)
    data = pipe_reduce(
        kv,
        reducer,
        ["key"],
        separator=separator,
        num_partitions=num_partitions,
        combiner=combiner,
    )
    return data, counters, mapped


def pipe_with_counters(
    df: DataFrame,
    cmd: str,
    counters: list[tuple[str, str]],
    separator: str = "\t",
    observation_name: str = "pipe_counters",
) -> tuple[DataFrame, Observation]:
    """Map-side pipe speaking the Streaming reporter protocol: stderr
    lines ``reporter:counter:<group>,<name>,<amount>`` increment
    counters (MRErrorThread, PipeMapRed.java:425-514); everything on
    stdout is data.

    ``rdd.pipe`` exposes only stdout, so the command is wrapped to
    spool stderr to a per-process temp file and append it AFTER the
    command exits — no interleave corruption from block-buffered
    stdout, and counter placement doesn't matter because they
    aggregate. Appended stderr lines carry a per-wrap sentinel prefix
    so the streams stay unambiguous (ADVICE r3); the reporter-prefix
    parse (the reference's stderr-thread parse) applies to the stderr
    side only, and stdout data is passed through untouched even when a
    line happens to start with ``reporter:``. Counter totals are
    collected via ``df.observe`` in the SAME pass as the data
    (Counters semantics — no second subprocess run): returns
    ``(data_df, observation)`` where the observation carries one
    ``<group>_<name>`` long per requested counter plus
    ``reporter_lines`` (all reporter-prefixed stderr lines seen).
    Unrequested counter groups still count toward ``reporter_lines``.
    """
    wrapped, sentinel = _wrap_stderr_append(cmd)
    merged = pipe_map(df, wrapped, separator)
    is_err, err_body, parts, is_counter = _stderr_reporter_cols(sentinel)
    amount = F.element_at(parts, 3).cast("long")
    obs = Observation(observation_name)
    metrics = [
        F.sum(
            F.when(
                is_counter
                & (F.element_at(parts, 1) == group)
                & (F.element_at(parts, 2) == name),
                amount,
            ).otherwise(F.lit(0))
        ).alias(f"{group}_{name}")
        for group, name in counters
    ]
    metrics.append(
        F.count(
            F.when(is_err & err_body.startswith(REPORTER_PREFIX), F.lit(1))
        ).alias("reporter_lines")
    )
    observed = merged.observe(obs, *metrics)
    data = observed.filter(~is_err)
    return data, obs


def split_kv(
    lines: DataFrame,
    separator: str = "\t",
    num_key_fields: int = 1,
) -> DataFrame:
    """Split piped output lines back into (key, value) — the
    ``stream.num.map.output.key.fields`` rule (PipeMapRed.java:341-346):
    first N fields are the key, the rest the value."""
    import re

    arr = F.split(F.col("line"), re.escape(separator))
    key = F.concat_ws(separator, *[F.element_at(arr, i + 1) for i in range(num_key_fields)])
    value = F.array_join(
        F.slice(arr, num_key_fields + 1, F.greatest(F.size(arr) - num_key_fields, F.lit(0))),
        separator,
    )
    return lines.select(key.alias("key"), value.alias("value"))
