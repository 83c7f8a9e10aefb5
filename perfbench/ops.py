"""Fixtures, timed operations and their correctness oracles.

Every call into the library runs inside a span named after the module
that owns the entry point (``<layer>.<call>``). An op returns whether its
answer matched the oracle; ``checked`` turns an exception into a failed
op instead of an aborted run.
"""

from __future__ import annotations

import os
import shutil
import sys
import traceback
from dataclasses import dataclass, field

from pyspark.sql import functions as F

from spans import Tracer

COLS = ["repo", "path", "commit", "lang", "content"]
DELTA_SEED_OFFSET = 1_000_003  # the append delta is its own datagen seed


@dataclass
class Ctx:
    spark: object
    tracer: Tracer
    work: str
    seed: int
    attempted: int = 0
    failures: list = field(default_factory=list)

    def call(self, name: str, fn, *args, **kwargs):
        with self.tracer.span(name):
            return fn(*args, **kwargs)

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)


# ------------------------------------------------------------------ fixtures


@dataclass
class Source:
    """A datagen table written once as parquet/zstd (the footprint
    baseline and the oracles' ground truth)."""
    dir: str
    parquet_bytes: int


def parquet_size(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, fs in os.walk(path) for f in fs
               if f.endswith(".parquet"))


def write_source(ctx: Ctx, name: str, rows: int, seed: int) -> Source:
    from fhirflat_spark.datagen import gen_spark

    out = ctx.path(name)
    gen_spark(ctx.spark, rows, seed=seed).write.mode("overwrite").parquet(out)
    return Source(out, parquet_size(out))


def key_counts(src: Source) -> list[tuple]:
    """Exact per-repo row counts, the table statistics a caller hands
    ``encode_table`` (read in the driver: no Spark job)."""
    import pyarrow.parquet as pq

    t = pq.read_table(src.dir, columns=["repo"]).group_by("repo").aggregate(
        [("repo", "count")])
    return sorted(zip(t["repo"].to_pylist(), t["repo_count"].to_pylist()))


def fresh_dir(ctx: Ctx, name: str) -> str:
    out = ctx.path(name)
    shutil.rmtree(out, ignore_errors=True)
    return out


# ------------------------------------------------------------------- digests


def _row_hash_parts(df):
    h = F.sha2(F.to_json(F.struct(*[F.col(c) for c in COLS])), 256)
    return [F.conv(F.substring(h, 1 + 8 * i, 8), 16, 10).cast("long")
            for i in range(2)]


def digest(df) -> tuple[int, int, int]:
    """Order-independent digest: (rows, sum of two 32-bit slices of each
    row's sha256 over all five columns)."""
    a, b = _row_hash_parts(df)
    r = df.agg(F.count(F.lit(1)).alias("n"), F.sum(a).alias("a"),
               F.sum(b).alias("b")).first()
    return int(r["n"]), int(r["a"] or 0), int(r["b"] or 0)


def digest_by(df, key: str) -> dict:
    a, b = _row_hash_parts(df)
    rows = df.groupBy(key).agg(F.count(F.lit(1)).alias("n"),
                               F.sum(a).alias("a"),
                               F.sum(b).alias("b")).collect()
    return {r[key]: (int(r["n"]), int(r["a"]), int(r["b"])) for r in rows}


# ---------------------------------------------------------------- write path


def encode(ctx: Ctx, src: Source, out: str, kc, rows_per_bucket: int):
    from fhirflat_spark.encode import encode_table

    df = ctx.spark.read.parquet(src.dir)
    with ctx.tracer.span("encode.encode_table") as sp:
        res = encode_table(df, out, key_counts=kc,
                           rows_per_bucket=rows_per_bucket)
        sp.attrs.update(raw_bytes=res.raw_bytes, partitions=res.num_partitions)
    return res


def append(ctx: Ctx, delta: Source, out: str, rows_per_bucket: int):
    from fhirflat_spark.encode import append_table

    df = ctx.spark.read.parquet(delta.dir)
    return ctx.call("encode.append_table", append_table, df, out,
                    rows_per_bucket=rows_per_bucket)


def dataset_sha(out: str) -> str | None:
    from fhirflat_spark.manifest import current_snapshot, snapshot_dataset_sha

    return snapshot_dataset_sha(out, current_snapshot(out))


# ----------------------------------------------------------------- read path


def op_decode(ctx: Ctx, table: str, expect: tuple) -> bool:
    """Full ``decode_table`` read; its digest must equal the source's."""
    from fhirflat_spark.decode import decode_table

    with ctx.tracer.span("decode.decode_table"):
        got = digest(decode_table(ctx.spark, table))
    return got == expect


def op_source_read(ctx: Ctx, table: str, expect: tuple) -> bool:
    """Full read through the named source; digest as ``op_decode``."""
    with ctx.tracer.span("sources.datasource.read"):
        df = ctx.call("sources.datasource.load", load_source, ctx.spark, table)
        got = digest(df)
    return got == expect


def op_verify(ctx: Ctx, table: str, expect: tuple) -> bool:
    """``verify_table`` pass: every chunk round-trips, every row counted."""
    from fhirflat_spark.decode import verify_table

    with ctx.tracer.span("decode.verify_table"):
        r = verify_table(ctx.spark, table).agg(
            F.sum("n_rows").alias("n"),
            F.sum(F.when(~F.col("ok"), 1).otherwise(0)).alias("bad"),
        ).first()
    return int(r["bad"]) == 0 and int(r["n"]) == expect[0]


FULL_READS = {"decode": op_decode, "source_read": op_source_read,
              "verify": op_verify}


def load_source(spark, table: str):
    return spark.read.format("fhirflat").option("path", table).load()


# ------------------------------------------------------------ selective path


@dataclass(frozen=True)
class Key:
    repo: str
    path: str
    lang: str


def draw_keys(src: Source, seed: int, count: int) -> list[Key]:
    """``count`` source rows picked by a seeded golden-ratio sequence over
    the row ids: an even spread, so the giant repo gets its ~40% share
    of the keys in every window of ops, whatever the seed."""
    import pyarrow.parquet as pq

    t = pq.read_table(src.dir, columns=["repo", "path", "lang"])
    phi = 0.6180339887498949
    start = (seed * 0.7548776662466927) % 1.0
    keys = []
    for i in range(count):
        rid = int(((start + i * phi) % 1.0) * t.num_rows)
        keys.append(Key(*(t.column(c)[rid].as_py()
                          for c in ("repo", "path", "lang"))))
    return keys


def source_oracles(ctx: Ctx, src_dirs: list[str],
                   keys: list[Key]) -> tuple[tuple, dict]:
    """The full reads' digest and every lookup op's answer, over the
    source parquet: the per-repo digests come from one Spark job (their
    sums are the whole table's), point rows and (repo, lang) counts from
    Arrow in the driver."""
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    by_repo = digest_by(ctx.spark.read.parquet(*src_dirs), "repo")
    expect = tuple(sum(d[i] for d in by_repo.values()) for i in range(3))
    pairs = {(k.repo, k.path) for k in keys}
    t = pq.ParquetDataset(sorted(
        os.path.join(d, f) for d in src_dirs for f in os.listdir(d)
        if f.endswith(".parquet"))).read(columns=COLS)
    paths = pa.array(sorted({p for _, p in pairs}), type=pa.string())
    point: dict = {}
    for r in t.filter(pc.is_in(t["path"], value_set=paths)).to_pylist():
        if (r["repo"], r["path"]) in pairs:
            point.setdefault((r["repo"], r["path"]), []).append(
                tuple(r[c] for c in COLS))
    repos = {k.repo for k in keys}
    by_lang: dict = {}
    counts = t.group_by(["repo", "lang"]).aggregate([("repo", "count")])
    for r in counts.to_pylist():
        if r["repo"] in repos:
            by_lang.setdefault(r["repo"], {})[r["lang"]] = r["repo_count"]
    return expect, {
        "point": {p: sorted(v) for p, v in point.items()},
        "range": {r: by_repo[r] for r in repos},
        "lang": by_lang,
    }


def op_point(ctx: Ctx, table: str, key: Key, oracle: dict) -> bool:
    with ctx.tracer.span("sources.datasource.point"):
        df = load_source(ctx.spark, table).where(
            (F.col("repo") == key.repo) & (F.col("path") == key.path))
        got = sorted(tuple(r) for r in df.select(*COLS).collect())
    return got == oracle["point"].get((key.repo, key.path), [])


def op_key_range(ctx: Ctx, table: str, key: Key, oracle: dict) -> bool:
    from fhirflat_spark.decode import decode_key_range

    with ctx.tracer.span("decode.key_range"):
        got = digest(decode_key_range(ctx.spark, table, key.repo, key.repo))
    return got == oracle["range"][key.repo]


def op_count(ctx: Ctx, table: str, key: Key, oracle: dict,
             report: dict) -> bool:
    from fhirflat_spark.encoded_exec import count_encoded

    where = [("repo", "eq", key.repo), ("lang", "eq", key.lang)]
    with ctx.tracer.span("encoded_exec.count") as sp:
        n = count_encoded(ctx.spark, table, where=where, report=report)
        sp.attrs.update(report)
    return n == oracle["lang"][key.repo].get(key.lang, 0)


def op_group_count(ctx: Ctx, table: str, key: Key, oracle: dict) -> bool:
    from fhirflat_spark.encoded_exec import group_count_encoded

    with ctx.tracer.span("encoded_exec.group_count"):
        rows = group_count_encoded(ctx.spark, table, "lang",
                                   where=[("repo", "eq", key.repo)]).collect()
    got = {r["lang"]: int(r["cnt"]) for r in rows}
    return got == oracle["lang"][key.repo]


LOOKUP_KINDS = ("point", "key_range", "count", "group_count")


def lookup_op(ctx: Ctx, kind: str, table: str, key: Key, oracle: dict) -> bool:
    if kind == "point":
        return op_point(ctx, table, key, oracle)
    if kind == "key_range":
        return op_key_range(ctx, table, key, oracle)
    if kind == "count":
        return op_count(ctx, table, key, oracle, {})
    return op_group_count(ctx, table, key, oracle)


def checked(ctx: Ctx, label: str, fn, *args) -> bool:
    """Run one op; an exception or a wrong answer is a failed op, never
    an aborted run."""
    ctx.attempted += 1
    try:
        ok = bool(fn(*args))
    except Exception as e:  # noqa: BLE001 - a failing op is a data point
        traceback.print_exc(file=sys.stderr)
        ctx.failures.append(f"{label}: {type(e).__name__}: {e}"[:500])
        return False
    if not ok:
        ctx.failures.append(f"{label}: answer differs from the oracle")
    return ok
