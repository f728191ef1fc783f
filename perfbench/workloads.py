"""The benchmark workloads: their ops, and a check for each op.

An op is one call path through the package's public functions.  ``run``
returns ``(build_s, output)``, where ``build_s`` is the time spent in the
call that returns the DataFrame (or DataFrames); ``check`` raises when
``output`` is wrong.  Checks run outside the timed region.
"""

from __future__ import annotations

import glob
import os
import shutil
import time
from collections.abc import Callable
from dataclasses import dataclass

SF_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data", "sf0.01")

#: corpus size of ``instrument_lake``; the sample sent through ``load_file``
N_MCC, N_STA, N_SINGLE = 16, 16, 2


@dataclass
class Op:
    name: str
    run: Callable[["Ctx"], tuple[float, object]]
    check: Callable[["Ctx", object], None]


class Ctx:
    """What the ops of one run share: the session, the registry, the inputs
    and the per-pass scratch directory."""

    def __init__(self, work: str):
        self.work = work
        self.spark = None
        self.registry: dict = {}
        self.runs: list = []  # instrument_lake corpus (corpus.Run)
        self.corpus_dir = ""
        self.pass_dir = ""
        self.table = None  # commit-log table of the current pass
        self._oracle: dict = {}
        self._duck = None

    def lake(self, kind: str) -> str:
        return os.path.join(self.work, "lake", kind)

    def oracle(self, name: str):
        if name not in self._oracle:
            if self._duck is None:
                from tests.compare import duck_con

                self._duck = duck_con(SF_DIR)
            sql = self.registry[name].oracle
            self._oracle[name] = self._duck.execute(sql).fetchdf()
        return self._oracle[name]

    def of_kind(self, kind: str) -> list:
        return [r for r in self.runs if r.kind == kind]


def _timed(fn):
    t0 = time.perf_counter()
    out = fn()
    return time.perf_counter() - t0, out


# ---------------------------------------------------------------------------
# query ops (iterative_loops)
# ---------------------------------------------------------------------------


def query_op(name: str) -> Op:
    def run(ctx: Ctx):
        fn = ctx.registry[name].fn
        build_s, df = _timed(lambda: fn(ctx.spark, SF_DIR))
        df.write.format("noop").mode("overwrite").save()
        return build_s, df

    def check(ctx: Ctx, df) -> None:
        from tests.compare import compare

        compare(df, ctx.oracle(name), name)

    return Op(name, run, check)


# ---------------------------------------------------------------------------
# instrument_lake ops
# ---------------------------------------------------------------------------


def _expect(cond: bool, what: str) -> None:
    if not cond:
        raise AssertionError(what)


def _ingest(kind: str) -> Op:
    from . import corpus

    channels = corpus.MCC_CHANNELS if kind == "MCC" else corpus.STA_CHANNELS
    ext = "txt" if kind == "MCC" else "csv"

    def run(ctx: Ctx):
        from lab_etl_spark.sources import sink, text_formats

        scan = text_formats.scan_mcc if kind == "MCC" else text_formats.scan_sta_csv
        pattern = os.path.join(ctx.corpus_dir, kind.lower(), f"*.{ext}")
        build_s, df = _timed(lambda: scan(ctx.spark, pattern))
        sink.write_parquet(df, ctx.lake(kind), mode="overwrite")
        return build_s, None

    def check(ctx: Ctx, _out) -> None:
        got = ctx.spark.read.parquet(ctx.lake(kind)).count()
        want = sum(r.rows for r in ctx.of_kind(kind)) * channels
        _expect(got == want, f"{kind} lake holds {got} rows, expected {want}")

    return Op(f"ingest_{kind.lower()}", run, check)


def _load_single() -> Op:
    def sample(ctx: Ctx) -> list:
        return ctx.of_kind("MCC")[:N_SINGLE] + ctx.of_kind("STA")[:N_SINGLE]

    def run(ctx: Ctx):
        from lab_etl_spark import api

        build_s, outs = 0.0, []
        for r in sample(ctx):
            b, df = _timed(lambda: api.load_file(ctx.spark, r.path))
            build_s += b
            df.write.format("noop").mode("overwrite").save()
            outs.append((r, df))
        return build_s, outs

    def check(ctx: Ctx, outs) -> None:
        from pyspark.sql import functions as F

        for r, df in outs:
            if r.kind == "MCC":
                n, v = df.agg(F.count("*"), F.max("hrr")).first()
                ok = v == r.planted
            else:
                n, v = df.agg(F.count("*"), F.max("mass") - F.min("mass")).first()
                ok = abs(v - r.planted) < 1e-9
            _expect(n == r.rows and ok, f"{r.name}: {n} rows, {v}; expected {r.rows}, {r.planted}")

    return Op("load_single", run, check)


def _log_rows(ctx: Ctx):
    from pyspark.sql import functions as F

    return (
        ctx.spark.read.parquet(ctx.lake("MCC"))
        .where(F.col("channel") == "hrr")
        .select(
            F.concat_ws(":", "source_file", "row_idx").alias("row_key"),
            "source_file",
            "row_idx",
            "value",
        )
    )


def _halves(ctx: Ctx) -> tuple[list[str], list[str]]:
    names = [r.name for r in ctx.of_kind("MCC")]
    return names[: len(names) // 2], names[len(names) // 2 :]


def _corrected(ctx: Ctx) -> list[str]:
    """Runs re-measured by ``log_upsert``: one from each half."""
    first, second = _halves(ctx)
    return [first[-1], second[-1]]


def _log_append() -> Op:
    """Commit the first half of the MCC runs as the base snapshot of a
    fresh commit-log table, then ``append_logged`` the second half."""

    def run(ctx: Ctx):
        from pyspark.sql import functions as F

        from lab_etl_spark.operators import commitlog

        first, second = _halves(ctx)

        def frames():
            rows = _log_rows(ctx)
            return (
                rows.where(F.col("source_file").isin(first)),
                rows.where(F.col("source_file").isin(second)),
            )

        build_s, (base, batch) = _timed(frames)
        table = commitlog.LoggedTable(os.path.join(ctx.pass_dir, "runs_log"))
        table.commit(lambda d: base.write.parquet(d), op="ingest")
        manifest = commitlog.append_logged(ctx.spark, table, batch)
        ctx.table = table
        return build_s, (table, manifest["version"])

    def check(ctx: Ctx, out) -> None:
        table, version = out
        got = table.read(ctx.spark, version=version).count()
        want = sum(r.rows for r in ctx.of_kind("MCC"))
        _expect(got == want, f"log holds {got} rows after append, expected {want}")

    return Op("log_append", run, check)


def _log_upsert() -> Op:
    """``upsert_dv`` corrected re-runs (every ``hrr`` value + 1.0) of two
    runs into the pass's commit-log table."""

    def run(ctx: Ctx):
        from pyspark.sql import functions as F

        from lab_etl_spark.operators import commitlog

        fixed = _corrected(ctx)
        build_s, updates = _timed(
            lambda: _log_rows(ctx)
            .where(F.col("source_file").isin(fixed))
            .withColumn("value", F.col("value") + F.lit(1.0))
        )
        manifest = commitlog.upsert_dv(ctx.spark, ctx.table, updates, key="row_key")
        return build_s, manifest

    def check(ctx: Ctx, manifest) -> None:
        from pyspark.sql import functions as F

        fixed = set(_corrected(ctx))
        want = sum(r.rows for r in ctx.of_kind("MCC") if r.name in fixed)
        got = manifest.get("rows_matched")
        _expect(got == want, f"upsert matched {got} rows, expected {want}")
        log = ctx.table.read(ctx.spark, version=manifest["version"])
        peaks = dict(log.groupBy("source_file").agg(F.max("value")).collect())
        exp = {r.name: r.planted + (1.0 if r.name in fixed else 0.0) for r in ctx.of_kind("MCC")}
        _expect(sorted(peaks) == sorted(exp), f"log holds {len(peaks)} runs, expected {len(exp)}")
        bad = [n for n in exp if abs(peaks[n] - exp[n]) > 1e-9]
        _expect(not bad, f"log peak hrr wrong after upsert for {bad[:3]}")
        rows = log.count()
        total = sum(r.rows for r in ctx.of_kind("MCC"))
        _expect(rows == total, f"log holds {rows} rows after upsert, expected {total}")

    return Op("log_upsert", run, check)


def _lake_read() -> Op:
    """Read both lakes back and aggregate the planted values per run."""

    def run(ctx: Ctx):
        from pyspark.sql import functions as F

        def frames():
            read = ctx.spark.read.parquet
            mcc = read(ctx.lake("MCC")).where(F.col("channel") == "hrr")
            sta = read(ctx.lake("STA")).where(F.col("channel") == "mass")
            return {
                "MCC": mcc.groupBy("source_file").agg(F.max("value")),
                "STA": sta.groupBy("source_file").agg(F.max("value") - F.min("value")),
            }

        build_s, dfs = _timed(frames)
        return build_s, {k: dict(df.collect()) for k, df in dfs.items()}

    def check(ctx: Ctx, got) -> None:
        for kind, values in got.items():
            want = {r.name: r.planted for r in ctx.of_kind(kind)}
            _expect(sorted(values) == sorted(want), f"{kind}: {len(values)} runs, expected {len(want)}")
            bad = [n for n in want if abs(values[n] - want[n]) > 1e-9]
            _expect(not bad, f"{kind}: planted value wrong for {bad[:3]}")

    return Op("lake_read", run, check)


def tree_bytes(path: str) -> int:
    """Bytes under ``path``, counting each inode once."""
    seen, total = set(), 0
    for root, _dirs, names in os.walk(path):
        for n in names:
            st = os.stat(os.path.join(root, n))
            if st.st_ino not in seen:
                seen.add(st.st_ino)
                total += st.st_size
    return total


def sink_output(ctx: Ctx) -> tuple[float, int]:
    """(MiB, data files) the two ingest sinks wrote in the last pass."""
    size = files = 0
    for kind in ("MCC", "STA"):
        for f in glob.glob(os.path.join(ctx.lake(kind), "**", "*.parquet"), recursive=True):
            size += os.path.getsize(f)
            files += 1
    return size / float(1 << 20), files


def log_overhead(ctx: Ctx) -> float:
    """Bytes the commit-log table holds on disk (data files, deletion
    vectors, manifests, sidecars; hardlinks once) per byte of the data
    files its latest snapshot reads."""
    table = ctx.table
    data_dir = os.path.join(table.table_dir, table.latest()["data_dir"])
    return tree_bytes(table.table_dir) / tree_bytes(data_dir)


def new_pass_dir(ctx: Ctx, n: int) -> None:
    if ctx.pass_dir:
        shutil.rmtree(ctx.pass_dir, ignore_errors=True)
    ctx.pass_dir = os.path.join(ctx.work, f"pass_{n:03d}")
    os.makedirs(ctx.pass_dir)


WORKLOADS: dict[str, list[str]] = {
    "instrument_lake": [
        "ingest_mcc",
        "ingest_sta",
        "load_single",
        "log_append",
        "log_upsert",
        "lake_read",
    ],
    "iterative_loops": [
        "q_pagerank",
        "q_label_propagation",
        "q_dedup_clusters",
        "q_similarity_ivf",
    ],
}

#: instrument_lake ops the seed may reorder; the commit-log chain and the
#: read-back depend on the MCC lake of the same pass, so they stay last
_FREE_INSTRUMENT_OPS = 3


def op_order(workload: str, seed: int) -> list[str]:
    import random

    names = list(WORKLOADS[workload])
    rng = random.Random(seed)
    if workload == "instrument_lake":
        head = names[:_FREE_INSTRUMENT_OPS]
        rng.shuffle(head)
        return head + names[_FREE_INSTRUMENT_OPS:]
    rng.shuffle(names)
    return names


def make_op(name: str) -> Op:
    makers = {
        "ingest_mcc": lambda: _ingest("MCC"),
        "ingest_sta": lambda: _ingest("STA"),
        "load_single": _load_single,
        "log_append": _log_append,
        "log_upsert": _log_upsert,
        "lake_read": _lake_read,
    }
    return makers[name]() if name in makers else query_op(name)
