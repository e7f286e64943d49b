"""The three closed-loop workloads.

Each workload has ``setup(ctx)`` (fixtures the timed ops start from; built
``FIXTURES`` times to time set-up), ``round(ctx)`` (a fixed block of ops)
and ``verify(ctx)`` (an untimed check of the state the last round left).
A run does ``--seconds / ROUND_S`` whole rounds, at least one: ``ROUND_S``
is about how long a round takes on a 4-core host, so a run measures about
``--seconds`` there and every run of a workload does the same work.

Write workloads keep a model of every table: the rows the generator
submitted, with each delete, update and merge applied in Python. Every
read-back is compared with the model; every analytic query with DuckDB
over the same generated parquet files.
"""

from __future__ import annotations

import os
import random

import numpy as np
import pandas as pd

from gen import logical_bytes
from harness import BRANCH, READ, WRITE

# Half of TPC-H's shapes and two thirds of the Ring-C keys: a fresh JVM
# pays 1-4 s of planning, codegen and JIT the first time it runs a key, and
# all 31 keys would not fit the run budget. similarity_ann_lsh is left out
# because its DuckDB oracle alone takes 4 s per run.
TPCH_KEYS = [
    "q1_pricing_summary", "q3_shipping_priority", "q5_local_supplier",
    "q9_product_profit", "q13_customer_distribution", "q18_large_volume",
]
LLM_KEYS = [
    "dedup_near_minhash", "dedup_ngram_jaccard", "similarity_topk",
    "text_fingerprint", "pipeline_training_corpus", "multimodal_decode",
]
# Spark and DuckDB add doubles in different orders; a sum that lands on a
# half-cent can round one cent apart. Float cells compare to this share.
FLOAT_RTOL = 1e-6


class Ctx:
    """What a workload needs: the session, its generated inputs, a seeded
    random source and the run that times its ops."""

    def __init__(self, spark, seed: int, work: str, data_dir: str, corrupt: bool):
        self.spark = spark
        self.run = None  # the Run that times ops; set after the fixtures
        self.corrupt = corrupt  # self-test: one expected result is wrong
        self.rng = random.Random(seed)
        self.work = work
        self.data_dir = data_dir
        self.state: dict = {}


# ------------------------------------------------------------ comparisons


def _canonical(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1).copy()
    for c in df.columns:
        dt = df[c].dtype
        if pd.api.types.is_datetime64_any_dtype(dt):
            df[c] = df[c].astype("datetime64[us]")
        elif pd.api.types.is_float_dtype(dt):
            df[c] = df[c].astype("float64")
        elif pd.api.types.is_integer_dtype(dt):
            df[c] = df[c].astype("float64" if df[c].isna().any() else "int64")
        elif dt == object:
            df[c] = df[c].map(
                lambda v: str(v.tolist()) if isinstance(v, np.ndarray)
                else (str(v) if isinstance(v, list) else v)
            )
    if len(df):
        key = df.apply(lambda r: tuple(str(v) for v in r), axis=1)
        df = df.iloc[key.argsort(kind="mergesort").to_numpy()].reset_index(drop=True)
    return df


def frames_match(got: pd.DataFrame, want: pd.DataFrame) -> bool:
    """Order-insensitive equality, columns matched by name."""
    a, b = _canonical(got), _canonical(want)
    if list(a.columns) != list(b.columns) or len(a) != len(b):
        return False
    for c in a.columns:
        av, bv = a[c].to_numpy(), b[c].to_numpy()
        if pd.api.types.is_float_dtype(a[c].dtype) or pd.api.types.is_float_dtype(b[c].dtype):
            if not np.allclose(av.astype("float64"), bv.astype("float64"),
                               rtol=FLOAT_RTOL, atol=0, equal_nan=True):
                return False
        else:
            sa, sb = pd.Series(av, dtype="object"), pd.Series(bv, dtype="object")
            if not (sa.where(sa.notna(), "<NA>") == sb.where(sb.notna(), "<NA>")).all():
                return False
    return True


def rows_match(rows, model: dict) -> bool:
    return sorted(tuple(r) for r in rows) == sorted(model.values())


def collect(df):
    return df.collect()


def start_python_workers(spark) -> None:
    """Fork one Python worker per task slot before the clock starts. Left
    to the timed ops, how many get forked depends on task timing (two to
    four per mor_churn run), and each costs its fork, its imports and
    about 130 MB."""
    n = spark.sparkContext.defaultParallelism

    def hold(batches):
        import time

        time.sleep(0.5)  # every task still runs when the last one starts
        yield from batches

    spark.range(0, n, 1, n).mapInPandas(hold, "id long").collect()


class Workload:
    ROUND_S: float  # seconds one round takes on a 4-core host
    FIXTURES = 3

    def prepare(self, ctx: Ctx) -> None:
        """Benchmark-side work between set-up and the first timed op."""

    def verify(self, ctx: Ctx) -> None:
        """Untimed checks of the state the last round left."""


# -------------------------------------------------------- analytic_reads


class AnalyticReads(Workload):
    """Each round is a seeded permutation of six TPC-H keys and six Ring-C
    keys over the generated star schema; only the query layers work. The
    pass runs in a fresh JVM, as a batch job's queries do, so each key pays
    its own first-run planning and codegen costs."""

    ROUND_S = 20.0
    FIXTURES = 1  # the registry and a started session

    def setup(self, ctx: Ctx) -> None:
        import __spark_entry__ as entry

        ctx.state["queries"] = entry.queries()
        # The session's first job and first Python worker cost 5-10 s; start
        # them here, not in whichever key the permutation puts first.
        ctx.spark.range(10_000).selectExpr("id % 7 AS k").groupBy("k").count().collect()
        start_python_workers(ctx.spark)

    def prepare(self, ctx: Ctx) -> None:
        """Load the DuckDB results ``gen.py`` made for every key."""
        want = pd.read_pickle(os.path.join(ctx.data_dir, "expected.pkl"))
        if ctx.corrupt:
            want["q1_pricing_summary"] = want["q1_pricing_summary"].iloc[:-1]
        ctx.state["expected"] = want

    def round(self, ctx: Ctx) -> None:
        keys = TPCH_KEYS + LLM_KEYS
        ctx.rng.shuffle(keys)
        q, want = ctx.state["queries"], ctx.state["expected"]
        for k in keys:
            ctx.run.op(
                READ, k,
                build=lambda k=k: q[k](ctx.spark, ctx.data_dir),
                action=lambda df: df.toPandas(),
                check=lambda got, k=k: frames_match(got, want[k]),
            )


# ---------------------------------------------------------- branch_commit

ACCOUNTS = "id bigint, owner string, region string, balance bigint"
LEDGER = "entry_id bigint, account_id bigint, amount bigint, memo string"
REGIONS = ["north", "south", "east", "west"]


def _account(rng: random.Random, i: int) -> tuple:
    return (i, f"owner-{rng.randrange(10**6):06d}", rng.choice(REGIONS), rng.randrange(10**7))


class BranchCommit(Workload):
    """The paper's git loop on VersionedCatalog: branch, write on the
    branch, commit, merge into main, tag, read back. Main's history and
    the branch count grow through the run."""

    ROUND_S = 2.0
    SEED_ROWS = 2000
    REPO = "bench"

    def setup(self, ctx: Ctx) -> None:
        from lakefs_iceberg_catalog_spark.catalog import VersionedCatalog
        from lakefs_iceberg_catalog_spark.catalog.sql_facade import SqlFacade
        from lakefs_iceberg_catalog_spark.operators.util import local_df

        rng = ctx.rng
        n = len([d for d in os.listdir(ctx.work) if d.startswith("catalog")])
        cat = VersionedCatalog(ctx.spark, os.path.join(ctx.work, f"catalog{n}"))
        cat.create_repository(self.REPO, "main")
        cat.create_namespace(f"{self.REPO}.main.db")
        accounts = {i: _account(rng, i) for i in range(self.SEED_ROWS)}
        cat.create_table_as(f"{self.REPO}.main.db.accounts", local_df(ctx.spark, list(accounts.values()), ACCOUNTS))
        cat.create_table(f"{self.REPO}.main.db.ledger", LEDGER)
        cat.commit_branch(self.REPO, "main", "seed")
        head = cat.table_history(f"{self.REPO}.main.db.accounts")[-1]
        if ctx.corrupt:
            accounts[0] = accounts[0][:3] + (accounts[0][3] + 1,)
        ctx.state.update(
            cat=cat, facade=SqlFacade(cat), local_df=local_df, accounts=accounts,
            versions={head: dict(accounts)}, next_id=self.SEED_ROWS, next_entry=0, ledger_bytes=0, ledger_sums={},
            iteration=0, root=cat.root,
        )

    def round(self, ctx: Ctx) -> None:
        s, run, rng, repo = ctx.state, ctx.run, ctx.rng, self.REPO
        cat, local_df = s["cat"], s["local_df"]
        i = s["iteration"]
        s["iteration"] += 1
        b = f"it{i}"
        acc_b, ledger_b = f"{repo}.{b}.db.accounts", f"{repo}.{b}.db.ledger"
        acc_main = f"{repo}.main.db.accounts"
        model = dict(s["accounts"])
        versions: dict[int, dict] = {}

        def track(_):
            versions[cat.table_history(acc_b)[-1]] = dict(model)
            return True

        run.op(BRANCH, "create_branch", lambda: cat.create_branch(repo, b, "main"))

        new = [_account(rng, s["next_id"] + j) for j in range(10)]
        s["next_id"] += 10
        model.update({r[0]: r for r in new})
        run.op(WRITE, "insert_values", lambda: cat.insert_values(acc_b, new),
               check=track, logical_bytes=logical_bytes(new))

        entries = [
            (s["next_entry"] + j, rng.randrange(s["next_id"]), rng.randrange(-5000, 5000), f"memo {i}-{j}")
            for j in range(200)
        ]
        s["next_entry"] += 200
        s["ledger_bytes"] += logical_bytes(entries)
        for e in entries:
            s["ledger_sums"][e[1] % 10] = s["ledger_sums"].get(e[1] % 10, 0) + e[2]
        frame = local_df(ctx.spark, entries, LEDGER)
        run.op(WRITE, "append", lambda: cat.append(ledger_b, frame), logical_bytes=logical_bytes(entries))

        r = rng.randrange(61)
        for k in [k for k in model if k % 61 == r]:
            del model[k]
        run.op(WRITE, "delete_where", lambda: cat.delete_where(acc_b, f"id % 61 = {r}"), check=track)

        reg, m = rng.choice(REGIONS), rng.randrange(7)
        changed = []
        for k, row in model.items():
            if row[2] == reg and k % 7 == m:
                model[k] = row[:3] + (row[3] + 100,)
                changed.append(model[k])
        run.op(
            WRITE, "update_where",
            lambda: cat.update_where(acc_b, f"region = '{reg}' AND id % 7 = {m}",
                                     {"balance": "balance + 100"}, mode="merge-on-read"),
            check=track, logical_bytes=logical_bytes(changed),
        )

        keys = rng.sample(sorted(model), 25) + list(range(s["next_id"], s["next_id"] + 25))
        s["next_id"] += 25
        src = [_account(rng, k) for k in keys]
        model.update({row[0]: row for row in src})
        frame = local_df(ctx.spark, src, ACCOUNTS)
        run.op(WRITE, "merge_upsert", lambda: cat.merge_upsert(acc_b, frame, ["id"]),
               check=track, logical_bytes=logical_bytes(src))

        run.op(BRANCH, "commit_branch", lambda: cat.commit_branch(repo, b, f"iteration {i}"))
        run.op(BRANCH, "merge", lambda: cat.merge(repo, b, "main"))
        run.op(BRANCH, "create_tag", lambda: cat.create_tag(repo, f"t{i}", "main"))
        s["accounts"] = model
        s["versions"].update(versions)

        run.op(READ, "scan", lambda: cat.scan(acc_main), collect, lambda rows: rows_match(rows, model))
        v = rng.choice(sorted(s["versions"]))
        run.op(READ, "scan_version", lambda: cat.scan(acc_main, version=v), collect,
               lambda rows: rows_match(rows, s["versions"][v]))
        run.op(READ, "diff_equal", lambda: cat.diff_equal(acc_main, acc_b), check=lambda eq: eq is True)
        want = {}
        for row in model.values():
            n, total = want.get(row[2], (0, 0))
            want[row[2]] = (n + 1, total + row[3])
        run.op(
            READ, "sql_select",
            lambda: s["facade"].sql(
                f"SELECT region, COUNT(*) AS n, SUM(balance) AS total "
                f"FROM lakefs.{repo}.main.db.accounts GROUP BY region"),
            collect,
            lambda rows: {r[0]: (r[1], r[2]) for r in rows} == want,
        )
        run.op(
            READ, "sql_select",
            lambda: s["facade"].sql(
                f"SELECT account_id % 10 AS bucket, SUM(amount) AS total "
                f"FROM lakefs.{repo}.main.db.ledger GROUP BY account_id % 10"),
            collect,
            lambda rows: {r[0]: r[1] for r in rows} == s["ledger_sums"],
        )

    def live_logical_bytes(self, ctx: Ctx) -> int:
        # every ledger entry ever appended is live
        return logical_bytes(list(ctx.state["accounts"].values())) + ctx.state["ledger_bytes"]


# -------------------------------------------------------------- mor_churn

ITEMS = "id bigint, sku string, qty bigint, price bigint"


def _item(rng: random.Random, i: int) -> tuple:
    return (i, f"sku-{rng.randrange(10**5):05d}", rng.randrange(1, 100), rng.randrange(100, 10**6))


class MorChurn(Workload):
    """Row-level DML on one long-lived Iceberg writer and one Delta writer:
    each round's merge-on-read delete, update and merge pile up delete
    files and deletion vectors, and its maintenance compacts them away."""

    ROUND_S = 12.0
    SEED_ROWS = 3000

    def setup(self, ctx: Ctx) -> None:
        from lakefs_iceberg_catalog_spark.catalog.delta_format import DeltaTableWriter
        from lakefs_iceberg_catalog_spark.catalog.iceberg_format import IcebergTableWriter
        from lakefs_iceberg_catalog_spark.operators.util import local_df

        rng = ctx.rng
        n = len([d for d in os.listdir(ctx.work) if d.startswith("tables")])
        root = os.path.join(ctx.work, f"tables{n}")
        rows = {i: _item(rng, i) for i in range(self.SEED_ROWS)}
        ice = IcebergTableWriter(ctx.spark, os.path.join(root, "iceberg"))
        ice.append(local_df(ctx.spark, list(rows.values()), ITEMS))
        delta = DeltaTableWriter(ctx.spark, os.path.join(root, "delta"))
        delta.commit(add_dfs=[local_df(ctx.spark, list(rows.values()), ITEMS)])
        models = {"iceberg": dict(rows), "delta": dict(rows)}
        if ctx.corrupt:
            models["iceberg"][0] = rows[0][:2] + (rows[0][2] + 1, rows[0][3])
        start_python_workers(ctx.spark)
        ctx.state.update(
            ice=ice, delta=delta, local_df=local_df, root=root, models=models,
            next_id={"iceberg": self.SEED_ROWS, "delta": self.SEED_ROWS},
        )

    def _read_back(self, ctx: Ctx, fmt: str) -> None:
        from lakefs_iceberg_catalog_spark.catalog.delta_format import scan_delta_table
        from lakefs_iceberg_catalog_spark.catalog.iceberg_format import scan_iceberg_table

        s = ctx.state
        model = s["models"][fmt]
        if fmt == "iceberg":
            if ctx.run.trace:
                from lakefs_iceberg_catalog_spark.catalog.iceberg_format import iceberg_snapshot_files

                s.setdefault("delete_files_live", []).append(len(iceberg_snapshot_files(s["ice"].table_dir)[1]))
            scan = lambda: scan_iceberg_table(ctx.spark, s["ice"].table_dir)  # noqa: E731
        else:
            scan = lambda: scan_delta_table(ctx.spark, s["delta"].table_dir)  # noqa: E731
        ctx.run.op(
            READ, f"{fmt}.scan",
            lambda: scan().select("id", "sku", "qty", "price"),
            collect, lambda rows: rows_match(rows, model),
        )

    def _write(self, ctx: Ctx, fmt: str, name: str, call, rows=()) -> None:
        ctx.run.op(WRITE, f"{fmt}.{name}", call, logical_bytes=logical_bytes(list(rows)))
        self._read_back(ctx, fmt)

    def _cycle(self, ctx: Ctx, fmt: str) -> None:
        s, rng = ctx.state, ctx.rng
        model, local_df = s["models"][fmt], s["local_df"]
        w = s["ice"] if fmt == "iceberg" else s["delta"]
        nid = s["next_id"][fmt]

        new = [_item(rng, nid + j) for j in range(100)]
        s["next_id"][fmt] = nid + 100
        model.update({r[0]: r for r in new})
        frame = local_df(ctx.spark, new, ITEMS)
        if fmt == "iceberg":
            self._write(ctx, fmt, "append", lambda: w.append(frame), new)
        else:
            self._write(ctx, fmt, "commit", lambda: w.commit(add_dfs=[frame]), new)

        r = rng.randrange(53)
        for k in [k for k in model if k % 53 == r]:
            del model[k]
        pred = f"id % 53 = {r}"
        if fmt == "iceberg":
            self._write(ctx, fmt, "delete_where_mor", lambda: w.delete_where_mor(pred))
        else:
            self._write(ctx, fmt, "delete_where_dv", lambda: w.delete_where_dv(pred))

        m = rng.randrange(37)
        changed = []
        for k, row in model.items():
            if k % 37 == m:
                model[k] = (row[0], row[1], row[2] + 1, row[3])
                changed.append(model[k])
        pred, assign = f"id % 37 = {m}", {"qty": "qty + 1"}
        if fmt == "iceberg":
            self._write(ctx, fmt, "update_where_mor", lambda: w.update_where_mor(pred, assign), changed)
        else:
            self._write(ctx, fmt, "update_where_dv", lambda: w.update_where_dv(pred, assign), changed)

        # Matched keys come from the fixture's rows only. Delta's merge
        # rewrites every file holding a matched key, deletion vectors
        # included; a key drawn from a cycle's 100 appended rows (about
        # every other merge drew one) retired that file's delete debt, so
        # read costs depended on the seed.
        old = sorted(k for k in model if k < self.SEED_ROWS)
        keys = rng.sample(old, 20) + list(range(s["next_id"][fmt], s["next_id"][fmt] + 20))
        s["next_id"][fmt] += 20
        src = [_item(rng, k) for k in keys]
        model.update({row[0]: row for row in src})
        frame = local_df(ctx.spark, src, ITEMS)
        if fmt == "iceberg":
            self._write(ctx, fmt, "merge_upsert_mor", lambda: w.merge_upsert_mor(frame, ["id"]), src)
        else:
            self._write(ctx, fmt, "merge_upsert", lambda: w.merge_upsert(frame, ["id"]), src)

    def round(self, ctx: Ctx) -> None:
        self._cycle(ctx, "iceberg")
        self._cycle(ctx, "delta")
        ice, delta = ctx.state["ice"], ctx.state["delta"]
        self._write(ctx, "iceberg", "rewrite_position_deletes", ice.rewrite_position_deletes)
        self._write(ctx, "iceberg", "rewrite_data", ice.rewrite_data)
        self._write(ctx, "delta", "optimize", delta.optimize)
        # Neither commits rows, so neither gets a read-back; the next
        # round's first scans (or verify) check what they left.
        ctx.run.op(WRITE, "iceberg.expire_snapshots", lambda: ice.expire_snapshots(retain_last=1))
        ctx.run.op(WRITE, "delta.checkpoint", delta.checkpoint)

    def verify(self, ctx: Ctx) -> None:
        self._read_back(ctx, "iceberg")
        self._read_back(ctx, "delta")

    def live_logical_bytes(self, ctx: Ctx) -> int:
        return sum(logical_bytes(list(m.values())) for m in ctx.state["models"].values())


WORKLOADS = {
    "analytic_reads": AnalyticReads,
    "branch_commit": BranchCommit,
    "mor_churn": MorChurn,
}
