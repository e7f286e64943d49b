"""Ring B extensions exposed as driver-checkable scenario queries:
time travel, UPDATE WHERE, MERGE upsert — the remainder of the row-level
surface the reference's pinned Iceberg extensions enable (SURVEY.md §2.2
dml_delete_where's siblings; `conftest.py:67` wires
IcebergSparkSessionExtensions which carry UPDATE/MERGE rewrites)."""

from __future__ import annotations

import shutil

from pyspark.sql import DataFrame, SparkSession

from ..catalog.catalog import bag_equal
from ..registry import register
from .versioned import WORKERS_SCHEMA, _WORKERS_VALUES, _materialize, _seeded
from .util import bounded_rows, local_df, materialize_bounded


@register(
    "dml_update_where",
    oracle=f"""
SELECT id, firstname, lastname,
       CASE WHEN gender = 'F' THEN age + 1 ELSE age END AS age,
       gender
FROM {_WORKERS_VALUES}
""",
)
def dml_update_where(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UPDATE workers SET age = age + 1 WHERE gender = 'F' via copy-on-write
    rewrite (Iceberg UPDATE surface)."""
    cat, root = _seeded(spark)
    cat.update_where("repo.main.company.workers", "gender = 'F'", {"age": "age + 1"})
    return _materialize(spark, cat.scan("repo.main.company.workers"), root)


@register(
    "dml_delete_equality",
    oracle="""
SELECT o_orderkey, o_custkey, round(o_totalprice, 2) AS total
FROM orders
WHERE o_orderpriority = '1-URGENT'
  AND o_custkey NOT IN (SELECT DISTINCT o_custkey FROM orders
                        WHERE o_orderpriority = '5-LOW')
""",
)
def dml_delete_equality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Iceberg v2 EQUALITY deletes — the third delete flavor, completing
    the v2 triad next to the predicate and position forms the engine
    already carries (format-version 2 requested by the reference at
    TestLakeFSCatalogSpark.java:67): delete every row whose KEY VALUE
    appears in a key set, as one small parquet delete file + one metadata
    commit (asserted: the commit lists the SAME data files). Scans apply a
    null-safe anti-join on the key columns; being value-based, the
    linkage stays valid across rewrites — no ordinal staleness — and
    compact() folds it in (asserted: post-compact rows identical, linkage
    dropped). The key set here is itself data-derived (customers who
    placed any 5-LOW order), the realistic erase-these-keys shape."""
    import tempfile as _tf

    from pyspark.sql import functions as F

    from ..catalog import VersionedCatalog
    from ..tables import table
    from .util import dround

    root = _tf.mkdtemp(prefix="vcat-eqdel-")
    cat = VersionedCatalog(spark, root)
    cat.create_repository("repo", "main")
    cat.create_namespace("repo.main.db")
    t = "repo.main.db.urgent"
    orders = table(spark, sf_dir, "orders")
    cat.create_table_as(
        t,
        orders.filter(F.col("o_orderpriority") == "1-URGENT").select(
            "o_orderkey", "o_custkey", "o_totalprice"
        ),
    )
    keys = (
        orders.filter(F.col("o_orderpriority") == "5-LOW")
        .select("o_custkey")
        .distinct()
    )
    ops = cat._ops(t)[0]
    files_before = ops.current().files
    cat.delete_keys(t, keys)
    m = ops.current()
    assert m.files == files_before and m.equality_deletes  # metadata-only
    before = cat.scan(t)
    cat.compact(t)
    assert not ops.current().equality_deletes  # folded by the rewrite
    after = cat.scan(t)
    assert bag_equal(before, after)  # compaction kept the visible rows
    out = after.select(
        "o_orderkey", "o_custkey", dround("o_totalprice", 2).alias("total")
    )
    return _materialize(spark, out, root)


@register(
    "dml_update_struct_member",
    oracle="""
SELECT * FROM (VALUES
  (1, CAST(1280 AS INT), CAST(480  AS INT), FALSE),
  (2, CAST(2560 AS INT), CAST(720  AS INT), FALSE),
  (3, CAST(NULL AS INT), CAST(NULL AS INT), TRUE),
  (4, CAST(100  AS INT), CAST(50   AS INT), FALSE)
) AS t(id, w, h, meta_is_null)
""",
)
def dml_update_struct_member(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UPDATE ... SET on a struct MEMBER (`meta.w`) — the nested-DML
    counterpart of the nested field-id evolution (Iceberg's UPDATE rewrite
    handles nested targets the same way; the reference inherits it via
    conftest.py:67's IcebergSparkSessionExtensions). The assignment
    compiles to a withField rebuild of ONLY the named member: unassigned
    members ride through untouched, rows outside the predicate are
    unchanged, a whole-NULL struct stays NULL (withField propagates NULL),
    and both write modes agree — run here in merge-on-read, so the 2-row
    update writes a 2-row file + one manifest swap, never a table rewrite.
    Output flattens to scalars for the driver canonicalizer."""
    import tempfile as _tf

    from pyspark.sql import Row
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    from ..catalog import VersionedCatalog

    root = _tf.mkdtemp(prefix="vcat-nupd-")
    cat = VersionedCatalog(spark, root)
    cat.create_repository("repo", "main")
    cat.create_namespace("repo.main.db")
    t = "repo.main.db.media"
    schema = T.StructType(
        [
            T.StructField("id", T.IntegerType(), True),
            T.StructField(
                "meta",
                T.StructType(
                    [
                        T.StructField("w", T.IntegerType(), True),
                        T.StructField("h", T.IntegerType(), True),
                    ]
                ),
                True,
            ),
        ]
    )
    cat.create_table_as(
        t,
        local_df(spark, 
            [
                (1, Row(w=640, h=480)),
                (2, Row(w=1280, h=720)),
                (3, None),
                (4, Row(w=100, h=50)),
            ],
            schema,
        ),
    )
    ops = cat._ops(t)[0]
    before = ops.current().files
    cat.update_where(t, "id <= 2", {"meta.w": "meta.w * 2"}, mode="merge-on-read")
    m = ops.current()
    assert set(before) <= set(m.files) and m.delete_preds  # MoR: old files kept
    out = cat.scan(t).select(
        "id",
        F.col("meta.w").alias("w"),
        F.col("meta.h").alias("h"),
        F.col("meta").isNull().alias("meta_is_null"),
    )
    return _materialize(spark, out, root)


@register(
    "dml_update_where_mor",
    oracle=f"""
SELECT id, firstname, lastname,
       CASE WHEN gender = 'F' THEN age + 1 ELSE age END AS age,
       gender
FROM {_WORKERS_VALUES}
""",
)
def dml_update_where_mor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dml_update_where scenario in merge-on-read mode (Iceberg v2's
    delete+reinsert decomposition): ONE commit writes only the updated rows
    as new files and records the predicate as a scan-time delete on the
    pre-existing files — asserted no pre-existing file is rewritten — then
    compact() folds everything and the visible rows are unchanged."""
    cat, root = _seeded(spark)
    t = "repo.main.company.workers"
    ops = cat._ops(t)[0]
    before = ops.current().files
    cat.update_where(t, "gender = 'F'", {"age": "age + 1"}, mode="merge-on-read")
    m = ops.current()
    assert set(before) <= set(m.files) and m.delete_preds  # old files kept
    pre_compact = cat.scan(t)
    cat.compact(t)
    assert not ops.current().delete_preds
    assert bag_equal(pre_compact, cat.scan(t))
    return _materialize(spark, cat.scan(t), root)


@register(
    "dml_merge_upsert",
    oracle="""
SELECT * FROM (VALUES
  ('1', 'James',   'Smith',    32, 'M'),
  ('2', 'Mike',    'Rose',     36, 'M'),
  ('3', 'Robert',  'Williams', 41, 'M'),
  ('4', 'Maria',   'Jones',    36, 'F'),
  ('5', 'Jen',     'Brown',    44, 'F'),
  ('6', 'Monika',  'Geller',   31, 'F'),
  ('9', 'Noor',    'Khan',     29, 'F')
) AS t(id, firstname, lastname, age, gender)
""",
)
def dml_merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE INTO emulation: source updates worker 2 and inserts worker 9 —
    matched keys replaced, unmatched inserted, one snapshot commit."""
    cat, root = _seeded(spark)
    src = local_df(spark, 
        [("2", "Mike", "Rose", 36, "M"), ("9", "Noor", "Khan", 29, "F")], WORKERS_SCHEMA
    )
    cat.merge_upsert("repo.main.company.workers", src, ["id"])
    return _materialize(spark, cat.scan("repo.main.company.workers"), root)


@register(
    "sql_merge_into",
    oracle="""
SELECT * FROM (VALUES
  ('1', 'James',   'Smith',    32, 'M'),
  ('2', 'Mike',    'Rose',     36, 'M'),
  ('3', 'Robert',  'Williams', 41, 'M'),
  ('4', 'Maria',   'Jones',    36, 'F'),
  ('5', 'Jen',     'Brown',    44, 'F'),
  ('6', 'Monika',  'Geller',   31, 'F'),
  ('9', 'Noor',    'Khan',     29, 'F')
) AS t(id, firstname, lastname, age, gender)
""",
)
def sql_merge_into(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dml_merge_upsert scenario driven through the SQL facade's
    MERGE INTO form (the statement the reference's pinned Iceberg SQL
    extensions expose): whole-row UPDATE SET * / INSERT * on the id key."""
    from ..catalog.sql_facade import SqlFacade

    cat, root = _seeded(spark)
    SqlFacade(cat).sql(
        """
        MERGE INTO lakefs.repo.main.company.workers AS t
        USING (SELECT * FROM (VALUES ('2', 'Mike', 'Rose', 36, 'M'),
                                     ('9', 'Noor', 'Khan', 29, 'F'))) AS s(id, firstname, lastname, age, gender)
        ON t.id = s.id
        WHEN MATCHED THEN UPDATE SET *
        WHEN NOT MATCHED THEN INSERT *
        """
    )
    return _materialize(spark, cat.scan("repo.main.company.workers"), root)


@register(
    "dml_merge_conditional_delete",
    oracle="""
SELECT * FROM (VALUES
  ('1', 'James',   'Smith',    32, 'M'),
  ('2', 'Mike',    'Rose',     36, 'M'),
  ('3', 'Robert',  'Williams', 41, 'M'),
  ('4', 'Maria',   'Jones',    36, 'F'),
  ('6', 'Monika',  'Geller',   31, 'F'),
  ('9', 'Noor',    'Khan',     29, 'F')
) AS t(id, firstname, lastname, age, gender)
""",
)
def dml_merge_conditional_delete(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The CDC-consumer MERGE shape (round 15 — the most-hit clause-
    grammar gap per VERDICT r14): ``WHEN MATCHED AND s.op = 'D' THEN
    DELETE / WHEN MATCHED THEN UPDATE SET * / WHEN NOT MATCHED AND
    s.op <> 'D' THEN INSERT *``, driven through the SQL facade onto the
    shared clause engine (merge_clauses.py). The source carries the op
    flag as an EXTRA column — it steers clauses but never lands in the
    table; a not-matched 'D' row (id 7) is skipped by the conditional
    insert, exactly stock's first-match-wins resolution. Grammar per the
    reference's pinned Iceberg SQL extensions (conftest.py:67)."""
    from ..catalog.sql_facade import SqlFacade

    cat, root = _seeded(spark)
    SqlFacade(cat).sql(
        """
        MERGE INTO lakefs.repo.main.company.workers AS t
        USING (SELECT * FROM (VALUES
                 ('2', 'Mike',  'Rose',  36, 'M', 'U'),
                 ('5', 'Jen',   'Brown', 44, 'F', 'D'),
                 ('9', 'Noor',  'Khan',  29, 'F', 'U'),
                 ('7', 'Ghost', 'Row',   50, 'M', 'D')))
              AS s(id, firstname, lastname, age, gender, op)
        ON t.id = s.id
        WHEN MATCHED AND s.op = 'D' THEN DELETE
        WHEN MATCHED THEN UPDATE SET *
        WHEN NOT MATCHED AND s.op <> 'D' THEN INSERT *
        """
    )
    return _materialize(spark, cat.scan("repo.main.company.workers"), root)


@register(
    "dml_merge_multi_clause",
    oracle="""
SELECT * FROM (VALUES
  ('1', 'James!',  'Smith',  32, 'M'),
  ('2', 'Michael', 'ROSE',   40, 'M'),
  ('4', 'Maria',   'Jones',  35, 'F'),
  ('6', 'Monika!', 'Geller', 31, 'F'),
  ('9', 'Noor',    'Khan',   29, 'F')
) AS t(id, firstname, lastname, age, gender)
""",
)
def dml_merge_multi_clause(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Every remaining clause form in ONE statement (round 15): two
    MATCHED clauses with first-match-wins (a conditional column-level
    UPDATE, then the unconditional fallback), a CONDITIONAL not-matched
    insert, and BY SOURCE delete + update — through the versioned
    catalog's clause engine (catalog.merge_clauses / merge_clauses.py).
    Assignments mix t and s references (``upper(t.lastname)``,
    ``s.age``); unassigned columns keep target values. One copy-on-write
    commit (version asserted)."""
    from ..catalog.merge_clauses import MergeClause

    cat, root = _seeded(spark)
    t = "repo.main.company.workers"
    src = local_df(spark, 
        [("2", "Mike", "Rose", 40, "M"),
         ("4", "Maria", "Jones", 36, "F"),
         ("9", "Noor", "Khan", 29, "F")], WORKERS_SCHEMA
    )
    cat.merge_clauses(t, src, ["id"], [
        MergeClause("matched", "update", condition="s.age > t.age",
                    assignments={"age": "s.age", "lastname": "upper(t.lastname)"}),
        MergeClause("matched", "update", assignments={"age": "t.age - 1"}),
        MergeClause("not_matched", "insert", condition="s.age < 30"),
        MergeClause("not_matched_by_source", "delete", condition="t.age > 40"),
        MergeClause("not_matched_by_source", "update",
                    assignments={"firstname": "concat(t.firstname, '!')"}),
    ])
    assert cat.table_history(t) == [1, 2]  # ONE merge commit
    return _materialize(spark, cat.scan(t), root)


@register(
    "sql_use_namespace",
    oracle="""
SELECT 'lakefs' AS catalog, 'repo.main.company' AS namespace, 'workers' AS "tableName"
""",
)
def sql_use_namespace(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session-namespace statements from the reference E2E
    (TestLakeFSCatalogSpark.java:79-80, 88): USE pins the namespace, the
    bare SHOW TABLES lists within it, SHOW CURRENT NAMESPACE reports it."""
    from ..catalog.sql_facade import SqlFacade

    cat, root = _seeded(spark)
    f = SqlFacade(cat)
    f.sql("USE lakefs.`repo`.`main`.company")
    cur = bounded_rows(f.sql("SHOW CURRENT NAMESPACE"))[0]
    tbl = bounded_rows(f.sql("SHOW TABLES"))[0]
    out = local_df(spark, 
        [(cur.catalog, cur.namespace, tbl.tableName)],
        "catalog string, namespace string, tableName string",
    )
    shutil.rmtree(root, ignore_errors=True)
    return out


@register(
    "time_travel_scan",
    oracle="""
SELECT 6 AS rows_v1, 2 AS rows_v2, 2 AS rows_current
""",
)
def time_travel_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time travel over the manifest chain (Iceberg `VERSION AS OF`): after
    a destructive delete, version 1 still reads the full pre-delete
    snapshot."""
    cat, root = _seeded(spark)
    cat.delete_where("repo.main.company.workers", "age >= 35")
    v1 = cat.scan("repo.main.company.workers", version=1).count()
    v2 = cat.scan("repo.main.company.workers", version=2).count()
    cur = cat.scan("repo.main.company.workers").count()
    assert cat.table_history("repo.main.company.workers") == [1, 2]
    out = local_df(spark, 
        [(v1, v2, cur)], "rows_v1 int, rows_v2 int, rows_current int"
    )
    shutil.rmtree(root, ignore_errors=True)
    return out


@register(
    "time_travel_as_of_timestamp",
    oracle="""
SELECT 6 AS rows_before_delete, 2 AS rows_after_delete, 1 AS v_resolved
""",
)
def time_travel_as_of_timestamp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TIMESTAMP AS OF time travel (Iceberg snapshot-timestamp resolution):
    every commit stamps its wall-clock instant into the manifest; a scan
    with an as-of bound resolves the newest snapshot committed at or
    before it — metadata-only, like VERSION AS OF. The instant captured
    between v1 and the delete deterministically resolves to v1 regardless
    of clock speed (it is strictly after v1's stamp and strictly before
    v2's)."""
    import time as _t

    cat, root = _seeded(spark)
    t = "repo.main.company.workers"
    ts_after_v1 = _t.time()
    cat.delete_where(t, "age >= 35")
    n_before = cat.scan(t, as_of=ts_after_v1).count()
    n_after = cat.scan(t, as_of=_t.time()).count()
    v = cat.version_as_of(t, ts_after_v1)
    out = local_df(spark, 
        [(n_before, n_after, v)],
        "rows_before_delete int, rows_after_delete int, v_resolved int",
    )
    shutil.rmtree(root, ignore_errors=True)
    return out


@register(
    "meta_snapshots",
    oracle="""
SELECT * FROM (VALUES
  (1, 'create',           0, 5),
  (2, 'row-delete',       1, 5),
  (3, 'row-delete',       2, 5),
  (4, 'schema-evolution', 2, 6)
) AS t(version, operation, n_pending_deletes, n_fields)
""",
)
def meta_snapshots(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot metadata table (Iceberg `<table>.snapshots`): one row per
    live version straight from manifest JSON — no data IO, including the
    DERIVED Iceberg snapshot-summary operation label. The scenario
    leaves four versions with distinct shapes: the seed CTAS, two
    merge-on-read deletes (1 then 2 distinct pending predicates), and an
    add-column (6 fields). Commit instants are asserted monotonic
    internally but kept out of the compared output (wall-clock is not
    oracle-replayable); n_files likewise varies with write parallelism."""
    cat, root = _seeded(spark)
    t = "repo.main.company.workers"
    cat.delete_where(t, "age > 40", mode="merge-on-read")
    cat.delete_where(t, "age < 32", mode="merge-on-read")
    cat.add_column(t, "dept", "string")
    snaps = cat.snapshots(t)
    rows = bounded_rows(snaps.orderBy("version"))
    ts = [r["committed_at"] for r in rows]
    assert ts == sorted(ts) and ts[0] > 0  # monotonic wall-clock stamps
    assert all(r["n_files"] >= 1 for r in rows)
    out = snaps.select("version", "operation", "n_pending_deletes", "n_fields")
    return _materialize_meta(spark, out, root)


@register(
    "meta_refs",
    oracle="""
SELECT * FROM (VALUES
  ('branch', 'dev',    CAST(NULL AS VARCHAR), 1, 0),
  ('branch', 'main',   CAST(NULL AS VARCHAR), 1, 2),
  ('tag',    'v1.0',   'main',                1, CAST(NULL AS INT))
) AS t(kind, name, target, n_tables, n_commits)
""",
)
def meta_refs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Refs metadata table (Iceberg `<table>.refs` / `lakectl branch list`
    + `tag list`): one row per branch and tag with kind, the tag's source
    branch, tables visible at the ref, and commit counts — all from the
    repo's ref state, zero data IO. Scenario: seeded main (1 commit), a
    zero-copy dev branch, a tag pinned on main, a second commit on main
    (which must NOT move the tag or dev — asserted via the counts)."""
    cat, root = _seeded(spark)
    cat.create_branch("repo", "dev", "main")
    cat.create_tag("repo", "v1.0", "main")
    cat.append(
        "repo.main.company.workers",
        local_df(spark, [("7", "Jhon", "Smith", 33, "M")], WORKERS_SCHEMA),
    )
    cat.commit_branch("repo", "main", "second")
    out = cat.refs("repo").orderBy("kind", "name")
    return _materialize_meta(spark, out, root)


def _materialize_meta(spark, df, root):
    out = materialize_bounded(spark, df)  # metadata-sized by construction
    shutil.rmtree(root, ignore_errors=True)
    return out


@register(
    "rollup_hypertable_incremental",
    oracle="""
SELECT CAST(CAST(date_trunc('day', ts) AS DATE) AS VARCHAR) AS day,
       event_type,
       count(*) AS n_events,
       round(sum(value), 2) AS sum_value
FROM events
GROUP BY 1, 2
ORDER BY day, event_type
""",
)
def rollup_hypertable_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hypertable rollup with INCREMENTAL refresh — the continuous-aggregate
    pattern (TimescaleDB's rollup, Iceberg+MERGE refresh): a per-(day,
    type) aggregate table is built from the first raw batch, then a late
    batch lands in raw and the refresh recomputes ONLY the affected days —
    from the FULL raw table, so a day straddling both batches (the split
    is mid-day on Jan 20) is re-aggregated correctly, not double-counted —
    and MERGE-upserts them into the rollup. Asserted mid-flow: the refresh
    touches a strict subset of days. The oracle is the full recompute over
    all raw events — incremental refresh must be indistinguishable from
    it.

    Scale (100 TB): the refresh scan carries a pushed-down time-range
    filter (raw is range-clustered on ts, so manifest stats skip the cold
    files), the re-aggregate shuffles only the affected days' rows, and
    the MERGE is a key-equi upsert on the rollup — refresh cost tracks the
    late-data window, never the table."""
    import tempfile

    from pyspark.sql import functions as F

    from ..catalog import VersionedCatalog
    from ..tables import table
    from .util import dround

    root = tempfile.mkdtemp(prefix="vcat-rollup-")
    cat = VersionedCatalog(spark, root)
    cat.create_repository("repo", "main")
    cat.create_namespace("repo.main.ts")
    events = table(spark, sf_dir, "events").select("ts", "event_type", "value")
    split = "2024-01-20 12:00:00"
    batch1 = events.filter(F.col("ts") < F.lit(split).cast("timestamp"))
    batch2 = events.filter(F.col("ts") >= F.lit(split).cast("timestamp"))

    def rollup_of(df):
        # day rides as its ISO string: pandas date-vs-datetime dtypes would
        # never hash-compare across engines, the string always does
        return (
            df.groupBy(
                F.date_format(F.date_trunc("day", "ts"), "yyyy-MM-dd").alias("day"),
                "event_type",
            )
            .agg(
                F.count(F.lit(1)).alias("n_events"),
                dround(F.sum("value"), 2).alias("sum_value"),
            )
        )

    raw, agg = "repo.main.ts.events_raw", "repo.main.ts.events_rollup"
    cat.create_table_as(raw, batch1, cluster_by=["ts"])
    cat.create_table_as(agg, rollup_of(cat.scan(raw)))
    n_groups_v1 = cat.scan(agg).count()
    # late batch lands in raw
    cat.append(raw, batch2)
    # refresh: recompute ONLY days the late batch touched, from FULL raw
    affected = [
        r["day"] for r in bounded_rows(batch2.select(
            F.date_format(F.date_trunc("day", "ts"), "yyyy-MM-dd").alias("day")
        ).distinct())
    ]
    lo = min(affected)  # ISO strings order chronologically
    recomputed = rollup_of(
        cat.scan(raw).filter(
            F.date_format(F.date_trunc("day", "ts"), "yyyy-MM-dd") >= F.lit(lo)
        )
    )
    n_recomputed = recomputed.count()
    cat.merge_upsert(agg, recomputed, key_cols=["day", "event_type"])
    out = cat.scan(agg)
    n_total = out.count()
    assert n_recomputed < n_total, (n_recomputed, n_total)  # strict subset
    assert n_total >= n_groups_v1
    out = out.orderBy("day", "event_type")
    return _materialize(spark, out, root)


@register(
    "ddl_rollback_version",
    oracle=f"SELECT * FROM {_WORKERS_VALUES}",
)
def ddl_rollback_version(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot rollback (Iceberg `rollback_to_snapshot`): a destructive
    delete is undone by committing a NEW manifest that restores v1's exact
    state — one metadata write regardless of table size, history stays
    linear (v2's deleted state remains time-travelable), nothing rewritten.
    The scenario asserts the rollback landed as v3 and that VERSION AS OF
    still sees the interim delete."""
    cat, root = _seeded(spark)
    t = "repo.main.company.workers"
    cat.delete_where(t, "age >= 35")
    assert cat.scan(t).count() == 2
    v_new = cat.rollback_to_version(t, 1)
    assert v_new == 3
    assert cat.table_history(t) == [1, 2, 3]
    assert cat.scan(t, version=2).count() == 2  # undone state still reachable
    return _materialize(spark, cat.scan(t), root)


@register(
    "branch_tag_scan",
    oracle=f"SELECT * FROM {_WORKERS_VALUES}",
)
def branch_tag_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Immutable tag refs (lakeFS tags / Iceberg tag references): tag the
    branch's committed state, keep mutating the branch, read back through
    the tag — the pinned snapshot, not the branch head. Metadata-only: the
    tag is a {table: version} map in the repo ref state; creating one moves
    no data and later commits never move the tag."""
    cat, root = _seeded(spark)
    t = "repo.main.company.workers"
    cat.create_tag("repo", "release-1.0", "main")
    cat.update_where(t, "gender = 'F'", {"age": "age + 100"})
    assert cat.list_tags("repo") == ["release-1.0"]
    tagged = cat.scan_tag("repo", "release-1.0", "company.workers")
    head_max = bounded_rows(cat.scan(t).agg({"age": "max"}))[0][0]
    assert head_max >= 131  # branch head moved on ...
    tag_max = bounded_rows(tagged.agg({"age": "max"}))[0][0]
    assert tag_max == 44  # ... the tag did not
    return _materialize(spark, tagged, root)


@register(
    "meta_files",
    oracle="""
SELECT n_regionkey, COUNT(*) AS n_rows
FROM nation GROUP BY n_regionkey ORDER BY n_regionkey
""",
)
def meta_files(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Files metadata table (Iceberg `<table>.files`): per-file row counts,
    partition tuples, and column stats straight from manifests + footers —
    the planner's input, no page IO. Scenario: identity-partition nation by
    region, then answer "rows per partition" FROM THE METADATA TABLE ALONE;
    the oracle recomputes the same from data, so every per-file row count
    and partition tuple is value-checked. Asserts each file carries
    nationkey min/max stats (what scan pruning consumes)."""
    import json as _json

    import tempfile

    from pyspark.sql import functions as F

    from ..catalog import VersionedCatalog
    from ..tables import table

    root = tempfile.mkdtemp(prefix="vcat-files-")
    cat = VersionedCatalog(spark, root)
    cat.create_repository("repo", "main")
    cat.create_namespace("repo.main.db")
    cat.create_table_as(
        "repo.main.db.nation_p",
        table(spark, sf_dir, "nation"),
        partition_by=["n_regionkey"],
    )
    meta = cat.files("repo.main.db.nation_p")
    metas = bounded_rows(meta)
    assert len(metas) >= 5  # at least one file per region partition
    assert all(
        "n_nationkey" in _json.loads(r["column_stats"]) for r in metas
    )  # pruning stats present on every file
    out = (
        local_df(spark, metas, meta.schema)
        .select(
            F.get_json_object("partition", "$.n_regionkey").cast("int").alias("n_regionkey"),
            F.col("row_count"),
        )
        .groupBy("n_regionkey")
        .agg(F.sum("row_count").alias("n_rows"))
        .orderBy("n_regionkey")
    )
    return _materialize(spark, out, root)


@register(
    "time_travel_changes",
    oracle="""
SELECT * FROM (VALUES
  ('7', 'Ava',  'Stone', 27, 'F'),
  ('8', 'Liam', 'Reyes', 38, 'M')
) AS t(id, firstname, lastname, age, gender)
""",
)
def time_travel_changes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental append scan (Iceberg's incremental read /
    `table_changes`): the rows added between two snapshots, read from ONLY
    the files that joined the manifest in that range — CDC-read cost tracks
    the delta, never the table. A range that removed files (the subsequent
    delete) is refused, matching Iceberg's append-only incremental
    contract; the assert pins that refusal."""
    from ..catalog.errors import UnsupportedOperationError

    cat, root = _seeded(spark)
    t = "repo.main.company.workers"
    cat.append(
        t,
        local_df(spark, 
            [("7", "Ava", "Stone", 27, "F"), ("8", "Liam", "Reyes", 38, "M")],
            WORKERS_SCHEMA,
        ),
    )
    delta = cat.table_changes(t, 1, 2)
    cat.delete_where(t, "age >= 35")  # v3 removes files
    try:
        cat.table_changes(t, 2, 3)
        raise AssertionError("non-append-only range must be refused")
    except UnsupportedOperationError:
        pass
    return _materialize(spark, delta.orderBy("id"), root)


@register(
    "dml_merge_schema_evolution",
    oracle="""
SELECT * FROM (VALUES
  ('1', 'James',   'Smith',    32, 'M', CAST(NULL AS VARCHAR)),
  ('2', 'Mike',    'Rose',     36, 'M', 'eng'),
  ('3', 'Robert',  'Williams', 41, 'M', NULL),
  ('4', 'Maria',   'Jones',    36, 'F', NULL),
  ('5', 'Jen',     'Brown',    44, 'F', NULL),
  ('6', 'Monika',  'Geller',   31, 'F', NULL),
  ('9', 'Noor',    'Khan',     29, 'F', 'ops')
) AS t(id, firstname, lastname, age, gender, dept)
""",
)
def dml_merge_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE with schema evolution (Delta autoMerge / Iceberg mergeSchema):
    the source carries a `dept` column the target lacks — with
    evolve_schema=True the column is auto-added (fresh field id, nullable)
    in the SAME commit as the upsert; pre-existing rows read NULL for it,
    and time travel to v1 still shows the 5-column schema. Strict mode
    (the default) refuses the same source — asserted mid-flow."""
    from ..catalog.errors import SchemaMismatchError
    from pyspark.sql import types as T

    cat, root = _seeded(spark)
    t = "repo.main.company.workers"
    src_schema = T.StructType(
        list(WORKERS_SCHEMA.fields) + [T.StructField("dept", T.StringType(), True)]
    )
    src = local_df(spark, 
        [("2", "Mike", "Rose", 36, "M", "eng"), ("9", "Noor", "Khan", 29, "F", "ops")],
        src_schema,
    )
    try:
        cat.merge_upsert(t, src, ["id"])
        raise AssertionError("strict merge must refuse unknown source columns")
    except SchemaMismatchError:
        pass
    cat.merge_upsert(t, src, ["id"], evolve_schema=True)
    assert len(cat.scan(t, version=1).columns) == 5  # history keeps old shape
    assert cat.scan(t).schema["dept"].dataType.typeName() == "string"
    return _materialize(spark, cat.scan(t), root)


@register(
    "sink_shallow_clone",
    oracle="SELECT n_nationkey, n_name, n_regionkey FROM nation WHERE n_regionkey <> 0",
)
def sink_shallow_clone(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shallow clone (Delta CLONE): the clone's v1 manifest references the
    source's data files by path — zero data movement at any table size —
    then diverges independently (a delete on the clone rewrites only clone
    files; the source is untouched). Dropping the SOURCE must not break the
    clone: drop_table deletes only unreachable files (repo-wide
    reachability, the zero-copy-sharing invariant), asserted by scanning
    the clone after the drop."""
    import tempfile

    from ..catalog import VersionedCatalog
    from ..tables import table as _tbl

    root = tempfile.mkdtemp(prefix="vcat-clone-")
    cat = VersionedCatalog(spark, root)
    cat.create_repository("repo", "main")
    cat.create_namespace("repo.main.db")
    src, dst = "repo.main.db.nation_src", "repo.main.db.nation_clone"
    cat.create_table_as(
        src, _tbl(spark, sf_dir, "nation").select("n_nationkey", "n_name", "n_regionkey")
    )
    cat.clone_table(src, dst)
    m_src = cat._ops(src)[0].current()
    m_dst = cat._ops(dst)[0].current()
    assert m_dst.files == m_src.files and m_dst.version == 1  # zero-copy
    assert m_dst.table_uuid != m_src.table_uuid               # own identity
    cat.delete_where(dst, "n_regionkey = 0")  # clone diverges (CoW rewrite)
    assert cat.scan(src).count() == 25        # source untouched
    cat.drop_table(src)                       # must preserve shared files
    assert not cat.table_exists(src)
    return _materialize(spark, cat.scan(dst), root)


@register(
    "meta_partitions",
    oracle="""
SELECT CAST(n_regionkey AS INT) AS n_regionkey, COUNT(*) AS row_count
FROM nation GROUP BY n_regionkey ORDER BY n_regionkey
""",
)
def meta_partitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partitions metadata table (Iceberg `<table>.partitions` / SHOW
    PARTITIONS): per-partition file and row counts rolled up from manifest
    metadata — the table a maintenance planner reads to pick compaction
    targets. Row counts per partition are value-checked against a data
    recompute; per-partition file counts (≥1, write-parallelism-dependent)
    are asserted internally."""
    import tempfile

    from pyspark.sql import functions as F

    from ..catalog import VersionedCatalog
    from ..tables import table

    root = tempfile.mkdtemp(prefix="vcat-parts-")
    cat = VersionedCatalog(spark, root)
    cat.create_repository("repo", "main")
    cat.create_namespace("repo.main.db")
    cat.create_table_as(
        "repo.main.db.nation_p",
        table(spark, sf_dir, "nation"),
        partition_by=["n_regionkey"],
    )
    parts = cat.partitions("repo.main.db.nation_p")
    rows = bounded_rows(parts)
    assert len(rows) == 5 and all(r["n_files"] >= 1 for r in rows)
    out = (
        local_df(spark, rows, parts.schema)
        .select(
            F.get_json_object("partition", "$.n_regionkey").cast("int").alias("n_regionkey"),
            "row_count",
        )
        .orderBy("n_regionkey")
    )
    return _materialize(spark, out, root)


@register(
    "dml_insert_overwrite",
    oracle="""
SELECT * FROM (VALUES
  ('7', 'Ana', 'Cruz', 25, 'F'),
  ('8', 'Bo',  'Lee',  52, 'M')
) AS t(id, firstname, lastname, age, gender)
""",
)
def dml_insert_overwrite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INSERT OVERWRITE through the SQL facade: the table's current snapshot
    is wholly replaced in one commit; the pre-overwrite state stays
    time-travelable (asserted: v1 still reads 6 rows) until expiry+GC."""
    from ..catalog.sql_facade import SqlFacade

    cat, root = _seeded(spark)
    t = "repo.main.company.workers"
    SqlFacade(cat).sql(
        "INSERT OVERWRITE lakefs.repo.main.company.workers "
        "VALUES ('7', 'Ana', 'Cruz', 25, 'F'), ('8', 'Bo', 'Lee', 52, 'M')"
    )
    assert cat.scan(t, version=1).count() == 6  # history intact
    assert cat.scan(t).count() == 2
    return _materialize(spark, cat.scan(t), root)


@register(
    "dml_purge_history",
    oracle="""
SELECT * FROM (VALUES
  ('1', 'James', 'Smith', 32, 'M')
) AS t(id, firstname, lastname, age, gender)
""",
)
def dml_purge_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Compliance purge (GDPR erasure): worker 6 is physically removed from
    EVERY snapshot — after the purge, time travel to v1 no longer shows the
    row (ordinary DELETE would leave it readable there until expiry), while
    history keeps its shape (both versions, same instants) and all other
    rows survive untouched."""
    cat, root = _seeded(spark)
    t = "repo.main.company.workers"
    cat.delete_where(t, "age >= 35")          # v2: ids 1, 6 remain
    assert cat.scan(t, version=1).count() == 6
    summary = cat.purge_rows_from_history(t, "id = '6'")
    assert summary["rows_purged"] == 2, summary   # once per snapshot's copy
    assert summary["versions_rewritten"] == 2, summary
    v1 = cat.scan(t, version=1)
    assert v1.count() == 5 and v1.filter("id = '6'").count() == 0
    assert cat.table_history(t) == [1, 2]         # history shape intact
    return _materialize(spark, cat.scan(t), root)


@register(
    "dml_delete_positions",
    oracle="""
SELECT o_orderkey, o_orderstatus, round(o_totalprice, 2) AS total
FROM orders
WHERE NOT (o_orderkey % 10 = 3 AND o_orderkey <= 7000)
  AND NOT (o_orderstatus = 'P')
""",
)
def dml_delete_positions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Iceberg v2 POSITION deletes end to end — the other half of the
    format-version-2 row-level contract next to the predicate form
    (dml_delete_where_mor): DELETE materializes the matching rows'
    (data file, row ordinal) pairs into a small parquet delete file and
    commits it against only the COVERED data files; scans anti-join on
    (file, pos) instead of re-evaluating the predicate. Asserted mid-flow:
    (a) no data file is rewritten by either delete, (b) the delete files
    scope to a strict subset of the table's files (the clustered layout
    keeps high-key files untouched by the key-ranged predicate),
    (c) a second delete stacks, (d) compact() folds everything in and
    clears the map. Scale: a 100-row delete on a 100 TB table writes a
    100-row parquet + one manifest swap, and every later scan pays one
    deleted-rows-sized broadcast anti-join — not a predicate evaluation
    per row per scan."""
    import tempfile

    from ..catalog import VersionedCatalog
    from ..tables import table
    from .util import dround

    root = tempfile.mkdtemp(prefix="vcat-posdel-")
    cat = VersionedCatalog(spark, root)
    cat.create_repository("repo", "main")
    cat.create_namespace("repo.main.db")
    orders = table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    t = "repo.main.db.orders_pd"
    cat.create_table_as(t, orders, cluster_by=["o_orderkey"])
    ops = cat._ops(t)[0]
    files_before = sorted(ops.current().files)

    cat.delete_where(t, "o_orderkey % 10 = 3 AND o_orderkey <= 7000", mode="position")
    m1 = ops.current()
    assert sorted(m1.files) == files_before  # (a) metadata-only
    # (b) scoped to covering files only. Strict-subset is only provable when
    # some file's key range lies wholly above the predicate cutoff — true at
    # sf0.01+ where orderkeys exceed 7000, vacuous at sf0.001 where the
    # whole key domain is covered; derive it from the footer stats instead
    # of assuming the scale.
    assert 0 < len(m1.position_deletes) <= len(m1.files), (
        len(m1.position_deletes),
        len(m1.files),
    )
    uncoverable = {
        f
        for f in m1.files
        if (mn := m1.file_stats.get(f, {}).get("o_orderkey", [None, None])[0])
        is not None
        and mn > 7000
    }
    if uncoverable:
        assert len(m1.position_deletes) < len(m1.files)
        assert not (set(m1.position_deletes) & uncoverable)

    cat.delete_where(t, "o_orderstatus = 'P'", mode="position")
    m2 = ops.current()
    assert sorted(m2.files) == files_before  # (c) still no rewrite
    visible = cat.scan(t)
    cat.compact(t)
    assert not ops.current().position_deletes  # (d) folded away
    assert bag_equal(visible, cat.scan(t))

    out = cat.scan(t).select(
        "o_orderkey", "o_orderstatus", dround("o_totalprice", 2).alias("total")
    )
    return _materialize(spark, out, root)


@register(
    "sql_merge_full_sync",
    oracle="""
SELECT * FROM (VALUES
  ('1', 'James',   'Smith',    33, 'M'),
  ('4', 'Maria',   'Jones',    37, 'F'),
  ('9', 'Noor',    'Khan',     29, 'F')
) AS t(id, firstname, lastname, age, gender)
""",
)
def sql_merge_full_sync(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE with WHEN NOT MATCHED BY SOURCE THEN DELETE — the snapshot-sync
    statement (Delta/Iceberg SQL): matched rows replaced, target-only rows
    deleted, source-only rows inserted. The clause algebra makes the
    post-state exactly the source, and the engine plans it that way: one
    distributed write of the source, ZERO target scan (catalog.merge_sync)
    — on a 100 TB target the merge costs only the source write. Asserted
    mid-flow: the pre-merge snapshot is still readable (history kept, unlike
    drop-and-recreate), and the no-insert variant (UPDATE + BY SOURCE
    DELETE, no INSERT clause) keeps only source rows whose key existed —
    one semi-join against the target's key column."""
    from ..catalog.sql_facade import SqlFacade

    cat, root = _seeded(spark)
    f = SqlFacade(cat)
    t = "repo.main.company.workers"
    f.sql(
        """
        MERGE INTO lakefs.repo.main.company.workers AS t
        USING (SELECT * FROM (VALUES ('1', 'James', 'Smith', 33, 'M'),
                                     ('4', 'Maria', 'Jones', 37, 'F'),
                                     ('9', 'Noor',  'Khan',  29, 'F'))) AS s(id, firstname, lastname, age, gender)
        ON t.id = s.id
        WHEN MATCHED THEN UPDATE SET *
        WHEN NOT MATCHED THEN INSERT *
        WHEN NOT MATCHED BY SOURCE THEN DELETE
        """
    )
    assert {r["id"] for r in bounded_rows(cat.scan(t).select("id"))} == {"1", "4", "9"}
    # history survives the sync: the pre-merge snapshot still reads
    assert cat.scan(t, version=1).count() == 6
    # no-insert variant: '9' matches now, '77' has no target key → dropped
    f.sql(
        """
        MERGE INTO lakefs.repo.main.company.workers AS t
        USING (SELECT * FROM (VALUES ('9',  'Noor', 'Khan', 29, 'F'),
                                     ('77', 'Ghost', 'Row', 99, 'M'))) AS s(id, firstname, lastname, age, gender)
        ON t.id = s.id
        WHEN MATCHED THEN UPDATE SET *
        WHEN NOT MATCHED BY SOURCE THEN DELETE
        """
    )
    assert {r["id"] for r in bounded_rows(cat.scan(t).select("id"))} == {"9"}
    # restore the full-sync state for the returned result
    cat.rollback_to_version(t, 2)
    return _materialize(spark, cat.scan(t), root)


@register(
    "branch_revert",
    oracle=f"""
SELECT id, firstname, lastname, age, gender FROM {_WORKERS_VALUES}
WHERE age < 40
""",
)
def branch_revert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lakeFS ``revert`` — undo ONE commit on its own branch, keeping
    history (cherry-pick's mirror image): the scenario commits a cleanup
    (DELETE age >= 40), then an append of a new worker; reverting the
    CLEANUP must conflict (the later append moved the table past the
    commit's post-image — asserted), while reverting the APPEND succeeds
    as a linear-history rollback commit: the new worker vanishes, the
    cleanup's effect stays, and time travel still reaches the undone
    state. Both phases are metadata-only at any table size."""
    from ..catalog import MergeConflictError

    cat, root = _seeded(spark)
    t = "repo.main.company.workers"
    cat.delete_where(t, "age >= 40")
    cleanup_cid = cat.commit_branch("repo", "main", "cleanup")
    cat.append(
        t, local_df(spark, [("7", "Jhon", "Smith", 33, "M")], WORKERS_SCHEMA)
    )
    append_cid = cat.commit_branch("repo", "main", "add7")
    try:
        cat.revert("repo", cleanup_cid)
        raise AssertionError("revert past a later change must conflict")
    except MergeConflictError:
        pass
    cat.revert("repo", append_cid)
    got = cat.scan(t)
    assert got.filter("id = '7'").count() == 0  # append undone
    # history stayed linear: the pre-revert state is still time-travelable
    ops = cat._ops(t)[0]
    assert cat.scan(t, version=ops.current().version - 1).filter("id = '7'").count() == 1
    return _materialize(spark, got, root)


@register(
    "meta_commit_log",
    oracle="""
SELECT * FROM (VALUES
  (1, 'main', 'seed',    1),
  (2, 'main', 'cleanup', 1),
  (3, 'dev',  'dev-add', 1)
) AS t(seq, branch, message, n_tables)
""",
)
def meta_commit_log(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Commit log listing (``lakectl log``): ordered commit records with
    branch, message, and snapshot table count — straight from the repo ref
    state, zero data IO. The scenario shows the log is repo-wide and
    branch-filterable (the dev commit appears; the filtered variant is
    asserted mid-flow)."""
    cat, root = _seeded(spark)
    t = "repo.main.company.workers"
    cat.delete_where(t, "age >= 40")
    cat.commit_branch("repo", "main", "cleanup")
    cat.create_branch("repo", "dev", "main")
    cat.append(
        "repo.dev.company.workers",
        local_df(spark, [("8", "Marta", "Green", 31, "F")], WORKERS_SCHEMA),
    )
    cat.commit_branch("repo", "dev", "dev-add")
    only_main = bounded_rows(cat.commit_log("repo", branch="main"))
    assert [r["message"] for r in only_main] == ["seed", "cleanup"]
    return _materialize_meta(spark, cat.commit_log("repo"), root)
