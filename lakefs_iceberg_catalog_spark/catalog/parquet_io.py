"""Single-file parquet materialization for fixture/metadata writers.

The Iceberg/Delta interop writers commit one deterministic parquet file per
append (real writers fan out per task; the fixtures pin one file so layouts
are reproducible). Writing that file must NOT funnel rows through the
driver: converting the whole DataFrame to a driver-side pandas frame
materializes every row in driver memory — at any real table size that is
the funnel anti-pattern the repo's ratchet test freezes out. Instead the distributed writer runs with a single
task (`coalesce(1)`) so rows stream executor-side straight to parquet, and
the part file is renamed into place; the row count comes from the parquet
FOOTER (metadata-only read), not a data pass.
"""

from __future__ import annotations

import contextlib
import glob
import os
import shutil
import tempfile

from pyspark.sql import DataFrame


def distinct_singleton_row(df: DataFrame) -> tuple:
    """The single distinct row of ``df``, asserting there is exactly one —
    a bounded limit(2) probe (the partitioned-write invariant check: one
    output file carries one partition-value combination), never an
    unbounded driver materialization."""
    rows = df.distinct().limit(2).collect()
    if len(rows) != 1:
        raise ValueError(
            f"expected exactly one distinct partition-value row, got "
            f"{'none' if not rows else 'several'}"
        )
    return tuple(rows[0])


def singleton_metrics(exprs: list) -> list:
    """The single-distinct-row check of ``distinct_singleton_row`` as
    aggregate metrics: the row count ``n`` and, per partition expression,
    min/max/non-null-count — a column is single-valued iff it is all-null
    or all-one-non-null-value, and a row of single-valued columns is the
    single distinct row. Decode with ``singleton_from_metrics``."""
    from pyspark.sql import functions as F

    metrics = [F.count(F.lit(1)).alias("n")]
    for i, e in enumerate(exprs):
        metrics += [
            F.min(e).alias(f"mn_{i}"),
            F.max(e).alias(f"mx_{i}"),
            F.count(e).alias(f"ct_{i}"),
        ]
    return metrics


def singleton_observation(df: DataFrame, exprs: list):
    """Attach ``singleton_metrics`` as an Observation that rides the NEXT
    action on ``df`` (the data-file write) instead of paying its own Spark
    job. Returns ``(df_with_observe, observation)``; decode with
    ``singleton_from_metrics`` after the action ran."""
    from pyspark.sql import Observation

    obs = Observation()
    return df.observe(obs, *singleton_metrics(exprs)), obs


def singleton_from_metrics(m: dict, n_cols: int) -> tuple:
    """Decode ``singleton_metrics`` into the single distinct
    partition-value row, raising exactly like ``distinct_singleton_row``
    when the frame was empty or multi-valued. Spark orders NaN above every
    other double and groups all NaNs as one value, so an all-NaN column
    is single-valued (min and max both NaN) while NaN beside any number
    is not (min is the number)."""
    n = m["n"]
    if n == 0:
        raise ValueError(
            "expected exactly one distinct partition-value row, got none"
        )
    vals = []
    for i in range(n_cols):
        ct, mn, mx = m[f"ct_{i}"], m[f"mn_{i}"], m[f"mx_{i}"]
        if ct == 0:
            vals.append(None)  # all-null column: the one distinct value
        elif ct == n and (mn == mx or (mn != mn and mx != mx)):
            vals.append(mn)
        else:  # mixed nulls/values or min!=max: several distinct rows
            raise ValueError(
                "expected exactly one distinct partition-value row, "
                "got several"
            )
    return tuple(vals)


def write_single_parquet(df: DataFrame, dest_path: str) -> int:
    """Write ``df`` as exactly one parquet file at ``dest_path``; returns
    the row count (read from the footer, no data pass)."""
    import pyarrow.parquet as pq

    tmp = tempfile.mkdtemp(
        prefix="single-pq-", dir=os.path.dirname(dest_path) or None
    )
    out_dir = os.path.join(tmp, "out")
    try:
        df.coalesce(1).write.mode("overwrite").parquet(out_dir)
        parts = sorted(glob.glob(os.path.join(out_dir, "part-*.parquet")))
        assert len(parts) == 1, f"coalesce(1) produced {len(parts)} part files"
        shutil.move(parts[0], dest_path)
        return int(pq.read_metadata(dest_path).num_rows)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def write_single_orc(df: DataFrame, dest_path: str) -> int:
    """ORC twin of write_single_parquet (Iceberg's spec allows parquet,
    ORC, and Avro data files): one executor-side task streams rows to a
    single ORC file; the row count comes from the ORC footer."""
    import pyarrow.orc as po

    tmp = tempfile.mkdtemp(
        prefix="single-orc-", dir=os.path.dirname(dest_path) or None
    )
    out_dir = os.path.join(tmp, "out")
    try:
        df.coalesce(1).write.mode("overwrite").orc(out_dir)
        parts = sorted(glob.glob(os.path.join(out_dir, "part-*.orc")))
        assert len(parts) == 1, f"coalesce(1) produced {len(parts)} part files"
        shutil.move(parts[0], dest_path)
        return int(po.ORCFile(dest_path).nrows)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def avro_schema_of(schema) -> dict:
    """Map a flat Spark schema to the Avro record schema an Iceberg AVRO
    data file carries (spec primitives + date/timestamp logical types;
    nullable columns become ``["null", T]`` unions). Nested types raise —
    the fixture writers are flat, like the reference's tables."""
    from pyspark.sql import types as T

    def prim(dt):
        if isinstance(dt, (T.IntegerType, T.ShortType, T.ByteType)):
            return "int"
        if isinstance(dt, T.LongType):
            return "long"
        if isinstance(dt, T.StringType):
            return "string"
        if isinstance(dt, T.DoubleType):
            return "double"
        if isinstance(dt, T.FloatType):
            return "float"
        if isinstance(dt, T.BooleanType):
            return "boolean"
        if isinstance(dt, T.DateType):
            return {"type": "int", "logicalType": "date"}
        if isinstance(dt, T.TimestampType):
            return {"type": "long", "logicalType": "timestamp-micros"}
        raise ValueError(f"unsupported Spark type for Avro data file: {dt}")

    return {
        "type": "record",
        "name": "row",
        "fields": [
            {
                "name": f.name,
                "type": ["null", prim(f.dataType)] if f.nullable else prim(f.dataType),
            }
            for f in schema.fields
        ],
    }


def write_single_avro(df: DataFrame, dest_path: str) -> int:
    """Avro twin of write_single_parquet (the spec's THIRD data format):
    one executor-side task streams rows through the from-scratch Avro
    container encoder (catalog/avro_io.write_container — block-buffered,
    deflate) straight to ``dest_path``; the row count comes from the
    container's block headers, a metadata-only pass. Single-JVM layout
    note: the task writes to the shared local filesystem, the same
    contract the parquet/ORC twins rely on; a cluster deployment points
    dest at shared storage."""
    import datetime as _dt

    schema = df.schema
    avro_schema = avro_schema_of(schema)
    cols = schema.fieldNames()
    epoch_day = _dt.date(1970, 1, 1)
    epoch_ts = _dt.datetime(1970, 1, 1, tzinfo=_dt.timezone.utc)
    kinds = [type(f.dataType).__name__ for f in schema.fields]

    def conv(kind, v):
        if v is None:
            return None
        if kind == "DateType":
            return (v - epoch_day).days
        if kind == "TimestampType":
            if v.tzinfo is None:
                v = v.replace(tzinfo=_dt.timezone.utc)
            # exact integer micros: total_seconds() goes through a float
            # whose rounding + int() truncation corrupts ~1% of values
            # by -1µs; timedelta floor-division is exact (ADVICE r12)
            return (v - epoch_ts) // _dt.timedelta(microseconds=1)
        return v

    def _write(rows):
        from .avro_io import write_container

        write_container(
            dest_path,
            avro_schema,
            (
                {c: conv(k, r[c]) for c, k in zip(cols, kinds)}
                for r in rows
            ),
            codec="deflate",
        )

    df.coalesce(1).foreachPartition(_write)
    from .avro_io import count_container_rows

    return count_container_rows(dest_path)


def _hive_files(root: str, depth: int) -> list[tuple[str, dict[str, str | None]]]:
    """Every parquet file ``depth`` hive directory levels under ``root``,
    in path order, with the partition values its directory names encode:
    Spark's ``escapePathName`` is exactly percent-encoding, and NULL is
    the hive default-partition marker."""
    from urllib.parse import unquote

    out = []
    for path in sorted(
        glob.glob(os.path.join(glob.escape(root), *["*=*"] * depth, "*.parquet"))
    ):
        pvals: dict[str, str | None] = {}
        for seg in os.path.relpath(path, root).split(os.sep)[:-1]:
            k, _, v = seg.partition("=")
            v = unquote(v)
            pvals[unquote(k)] = None if v == "__HIVE_DEFAULT_PARTITION__" else v
        out.append((path, pvals))
    return out


def one_task(df: DataFrame) -> DataFrame:
    """``df`` as one partition, for a ``stage_slices`` caller that wants
    one file per slice. Only multi-partition frames coalesce: when EVERY
    union child is a coalesce(1), Catalyst collapses the whole union to
    ONE task (measured — the staged write then serializes every slice's
    scan and encode), while an already-1-partition frame kept raw stays
    its own parallel task, with scan row order intact either way."""
    return df if df.rdd.getNumPartitions() == 1 else df.coalesce(1)


@contextlib.contextmanager
def stage_slices(
    frames: list[DataFrame],
    partition_cols: tuple | list = (),
    dir: str | None = None,
):
    """Stage N frames' data files with ONE distributed write job: the
    frames union with a ``_slice`` index, and partitioning the write by
    that index (then ``partition_cols``) makes every task write only its
    own slice's files.

    Yields, per frame in order, the ``[(file path, {partition col: hive
    value or None})]`` written for it (empty for an empty frame); the
    stage dir (a fresh temp dir, under ``dir`` when given) is removed on
    exit, so callers move the files they keep.

    This is the shared core of the N-frames → one-job → N-metadata-commits
    writers (``IcebergTableWriter.append_many``,
    ``DeltaTableWriter.commit_many``, ``VersionedCatalog.append_many``,
    ``streaming.core.spool_frames``). Each frame keeps the partitioning it
    arrives with — a caller that needs one file per slice passes
    ``one_task(frame)`` — and each caller keeps its own fallback for an
    empty or multi-file slice."""
    from pyspark.sql import functions as F

    stage = tempfile.mkdtemp(prefix=".staging-", dir=dir)
    try:
        u = None
        for i, d in enumerate(frames):
            s = d.withColumn("_slice", F.lit(i))
            u = s if u is None else u.unionByName(s)
        u.write.partitionBy("_slice", *partition_cols).mode("overwrite").parquet(
            stage
        )
        yield [
            _hive_files(os.path.join(stage, f"_slice={i}"), len(partition_cols))
            for i in range(len(frames))
        ]
    finally:
        shutil.rmtree(stage, ignore_errors=True)


def write_hive_partitioned(
    df: DataFrame,
    pcols: list[str],
    dest_dir: str,
    prefix: str = "part",
) -> list[tuple[str, dict[str, str | None], int]]:
    """ONE distributed ``partitionBy`` job writing every partition tuple
    of ``df`` at once; the committed part files are enumerated afterwards
    and moved flat into ``dest_dir`` (Delta's add actions carry
    ``partitionValues`` explicitly, so hive directory layout is not
    required in the table). Returns ``[(file name, {pcol: string value or
    None}, row count)]`` — one entry per written file.

    This is the scale-correct commit shape for partitioned MERGE/CDC
    (VERDICT r8 #2): a cross-partition merge touching 10k tuples is one
    Spark job, not 10k sequential driver-loop writes. Partition values
    decode from the hive-escaped directory names (Spark's
    ``escapePathName`` is exactly percent-encoding; NULL is the hive
    default-partition marker), matching the string encoding the
    per-tuple writer used (`str(value)` of the typed literal).

    Rows are hash-repartitioned on the partition columns first (stock
    Delta's optimized-write shape): each tuple lands in exactly one
    task, so one file per tuple — no small-files fan-out from N input
    branches each touching the tuple. A single giant tuple is the known
    skew case; `spark.sql.files.maxRecordsPerFile` splits it without
    changing this code."""
    import uuid as _uuid

    import pyarrow.parquet as pq

    tmp = tempfile.mkdtemp(prefix="hive-pq-", dir=dest_dir or None)
    out_dir = os.path.join(tmp, "out")
    try:
        # explicit task count: an implicit one lets AQE coalesce the small
        # shuffle to ONE task and serialize every tuple's parquet encode
        # behind it; defaultParallelism scales with the cluster, and the
        # file set is unchanged (one file per tuple either way — each
        # tuple still hashes to exactly one task)
        from pyspark.sql import functions as F

        n_tasks = df.sparkSession.sparkContext.defaultParallelism
        df.repartition(n_tasks, *[F.col(c) for c in pcols]).write.partitionBy(
            *pcols
        ).mode("overwrite").parquet(out_dir)
        out: list[tuple[str, dict[str, str | None], int]] = []
        for part, pvals in _hive_files(out_dir, len(pcols)):
            name = f"{prefix}-{_uuid.uuid4()}.snappy.parquet"
            shutil.move(part, os.path.join(dest_dir, name))
            n = int(
                pq.read_metadata(os.path.join(dest_dir, name)).num_rows
            )
            out.append((name, pvals, n))
        return out
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def parquet_column_bounds(path: str) -> dict[str, tuple]:
    """Per-column (min, max) aggregated across ALL row groups, read from
    the parquet FOOTER only — zero data IO (the same stats source Iceberg's
    own writers use for manifest bounds). Columns lacking complete min/max
    stats in any row group are omitted (the spec allows absent bounds)."""
    import pyarrow.parquet as pq

    md = pq.read_metadata(path)
    bounds: dict[str, tuple] = {}
    incomplete: set[str] = set()
    for g in range(md.num_row_groups):
        rg = md.row_group(g)
        for i in range(rg.num_columns):
            c = rg.column(i)
            name = c.path_in_schema
            if name in incomplete:
                continue
            s = c.statistics
            if s is None or not s.has_min_max:
                incomplete.add(name)
                bounds.pop(name, None)
                continue
            cur = bounds.get(name)
            bounds[name] = (
                (s.min, s.max)
                if cur is None
                else (min(cur[0], s.min), max(cur[1], s.max))
            )
    return bounds
