"""The workloads: ``ingest`` (write path) and ``read`` (read path).

Each workload builds its fixtures from the datagen seed, warms up, then
runs a closed loop of ops from one client, in whole cycles of a fixed
op mix so every run measures the same mix. ``tour`` runs, once each, the
public entry points the loop does not call, so a traced run attributes
time to every layer on every workload.
"""

from __future__ import annotations

import ops
from ops import Ctx

# 50k datagen rows are ~45 MB raw, spread by the library's placement over
# ~60 partitions (one or more per repo). Spark start-up and Python-worker
# start-up (~15 s) are paid by every run, so the tables stay this small
# for the set-up, warm-up and a loop of several cycles to fit one run.
ROWS = 50_000
DELTA_ROWS = ROWS // 10
# bench.py's rule for a table of this size (~16 buckets of rows)
ROWS_PER_BUCKET = max(ROWS // 16, 2000)
LOOKUP_KEYS = 64


class Workload:
    name = ""
    # entry-point families the loop calls; the tour skips them
    loop_calls: tuple[str, ...] = ()
    kinds: tuple[str, ...] = ("rebuild",)
    cycle = 1     # ops per cycle of the mix; a run ends on a cycle boundary
    min_ops = 3   # every run reports a median of at least this many ops

    def fixtures(self, ctx: Ctx) -> None:
        raise NotImplementedError

    def warm(self, ctx: Ctx) -> None:
        """Untimed ops that pay first-call costs before timing."""
        raise NotImplementedError

    def op(self, ctx: Ctx, i: int) -> tuple[bool, int]:
        """Run timed op ``i``; returns (ok, raw bytes of table data the op
        read or wrote in full, 0 for a selective op)."""
        raise NotImplementedError

    def footprint(self) -> tuple[float, float]:
        """(encoded / raw bytes, encoded / parquet-zstd bytes) of the
        workload's table."""
        return self.encoded / self.raw, self.encoded / self.parquet

    def _sources(self, ctx: Ctx, delta: bool) -> None:
        self.src = ops.write_source(ctx, "src", ROWS, ctx.seed)
        self.delta = (ops.write_source(ctx, "delta", DELTA_ROWS,
                                       ctx.seed + ops.DELTA_SEED_OFFSET)
                      if delta else None)
        self.kc = ops.key_counts(self.src)

    def _pin_layout(self, table: str, res) -> None:
        from fhirflat_spark.manifest import current_snapshot, snapshot_part_ids

        self.encoded, self.raw = res.encoded_bytes, res.raw_bytes
        self.layout = {
            "partitions": len(snapshot_part_ids(table, current_snapshot(table))),
            "dataset_sha": ops.dataset_sha(table),
            "rows": res.rows,
            "raw_bytes": res.raw_bytes,
            "encoded_bytes": res.encoded_bytes,
        }

    def tour(self, ctx: Ctx) -> None:
        """One call of each public entry point the loop does not make,
        plus the standalone planning and metadata calls, on the
        workload's table."""
        from fhirflat_spark.decode import codec_report, partitions_for_key_range
        from fhirflat_spark.encode import plan_partition_ids
        from fhirflat_spark.manifest import aggregate_from_metadata

        table, src_dirs = self.table, self.src_dirs
        done = set(self.loop_calls)
        if "encode" not in done:
            if self.delta is None:
                self.delta = ops.write_source(
                    ctx, "delta", DELTA_ROWS, ctx.seed + ops.DELTA_SEED_OFFSET)
            out = ops.fresh_dir(ctx, "tour_encode")
            ops.encode(ctx, self.src, out, self.kc, ROWS_PER_BUCKET)
            ops.append(ctx, self.delta, out, ROWS_PER_BUCKET)
        keys = ops.draw_keys(self.src, ctx.seed, 4)
        if not {"full_read", "lookup"} <= done:
            expect, oracle = ops.source_oracles(ctx, src_dirs, keys)
        if "full_read" not in done:
            for name, fn in ops.FULL_READS.items():
                ops.checked(ctx, f"tour {name}", fn, ctx, table, expect)
        if "lookup" not in done:
            for kind, key in zip(ops.LOOKUP_KINDS, keys):
                ops.checked(ctx, f"tour {kind}", ops.lookup_op, ctx, kind,
                            table, key, oracle)
        for key in keys:
            with ctx.tracer.span("manifest.partitions_for_key_range") as sp:
                sp.attrs["kept"] = len(partitions_for_key_range(
                    ctx.spark, table, key.repo, key.repo))
        for _ in range(3):
            ctx.call("manifest.aggregate_from_metadata",
                     aggregate_from_metadata, table, ["repo", "lang"])
        ctx.call("encode.plan_partition_ids", plan_partition_ids,
                 ctx.spark.read.parquet(self.src.dir), ROWS_PER_BUCKET,
                 key_counts=self.kc)
        with ctx.tracer.span("decode.codec_report") as sp:
            sp.attrs["report"] = [r.asDict() for r in
                                  codec_report(ctx.spark, table).collect()]


class Ingest(Workload):
    """Write path. One op rebuilds the table from the source into a fresh
    directory with ``encode_table`` (default exchange, caller
    ``key_counts``) and then ``append_table``s a 10% delta. Every
    rebuild must reproduce the warm-up's dataset sha and row count."""

    name = "ingest"
    loop_calls = ("encode",)

    def fixtures(self, ctx: Ctx) -> None:
        self._sources(ctx, delta=True)
        self.src_dirs = [self.src.dir, self.delta.dir]
        self.parquet = self.src.parquet_bytes + self.delta.parquet_bytes

    def _rebuild(self, ctx: Ctx):
        out = ops.fresh_dir(ctx, "ingest")
        ops.encode(ctx, self.src, out, self.kc, ROWS_PER_BUCKET)
        return out, ops.append(ctx, self.delta, out, ROWS_PER_BUCKET)

    def warm(self, ctx: Ctx) -> None:
        # two untimed rebuilds: the second is still slower than the rest
        # (the JVM's and the Python workers' warm-up spans two rebuilds)
        self.table, res = self._rebuild(ctx)
        self._pin_layout(self.table, res)
        ops.checked(ctx, "ingest warm-up rows",
                    lambda: res.rows == ROWS + DELTA_ROWS)
        self.op(ctx, -1)

    def op(self, ctx: Ctx, i: int) -> tuple[bool, int]:
        raw = []

        def rebuild() -> bool:
            out, res = self._rebuild(ctx)
            raw.append(res.raw_bytes)
            return (ops.dataset_sha(out) == self.layout["dataset_sha"]
                    and res.rows == ROWS + DELTA_ROWS)

        return ops.checked(ctx, f"ingest rebuild {i}", rebuild), sum(raw)


class Read(Workload):
    """Read path on a table encoded during set-up. The loop cycles through
    three full reads (``decode_table``, the named source, ``verify_table``)
    and four selective ops (a repo+path point read through the named
    source, ``decode_key_range``, ``count_encoded`` and
    ``group_count_encoded``) on seeded keys drawn from source rows."""

    name = "read"
    loop_calls = ("full_read", "lookup")
    kinds = tuple(ops.FULL_READS) + ops.LOOKUP_KINDS
    cycle = len(kinds)
    min_ops = 2 * len(kinds)  # two of each kind: a run stays near a minute

    def fixtures(self, ctx: Ctx) -> None:
        self._sources(ctx, delta=False)
        self.src_dirs = [self.src.dir]
        self.parquet = self.src.parquet_bytes
        self.table = ops.fresh_dir(ctx, "read")
        self._pin_layout(self.table, ops.encode(ctx, self.src, self.table,
                                                self.kc, ROWS_PER_BUCKET))
        self.keys = ops.draw_keys(self.src, ctx.seed, LOOKUP_KEYS)
        self.expect, self.oracle = ops.source_oracles(ctx, self.src_dirs,
                                                      self.keys)

    def warm(self, ctx: Ctx) -> None:
        # one untimed cycle, on keys the timed loop starts without: the
        # first full read through the named source starts all of its
        # Python workers, and every op kind pays its first call here
        for i in range(self.cycle):
            self._op(ctx, i, LOOKUP_KEYS - 1 - i, "warm-up ")

    def op(self, ctx: Ctx, i: int) -> tuple[bool, int]:
        return self._op(ctx, i, i, "")

    def _op(self, ctx: Ctx, i: int, k: int, tag: str) -> tuple[bool, int]:
        kind = self.kinds[i % self.cycle]
        if kind in ops.FULL_READS:
            ok = ops.checked(ctx, f"{tag}{kind} {i}", ops.FULL_READS[kind],
                             ctx, self.table, self.expect)
            return ok, self.raw
        key = self.keys[k % len(self.keys)]
        return ops.checked(ctx, f"{tag}{kind} {key}", ops.lookup_op, ctx,
                           kind, self.table, key, self.oracle), 0


WORKLOADS = {w.name: w for w in (Ingest, Read)}
