"""Per-layer metrics of a traced run.

Span walls come from the benchmark's own spans; CPU, GC, shuffle, spill,
task counts and Python-worker bytes come from the event-log jobs joined
to those spans (``spans.span_stats``). The codec and selector numbers
come from single-threaded ``encode_array``/``decode_array`` calls in the
driver on 16384-row chunks of the workload's source table.
"""

from __future__ import annotations

import statistics
import time

from spans import EventLog, Span, span_stats

CODEC_COLS = ["repo", "path", "commit", "lang", "content"]
CHUNK_ROWS = 16384  # the engine's chunk size (session.ARROW_BATCH_ROWS)
CODEC_CHUNKS = 4
CODEC_REPS = 3


def _med(xs, default=0.0):
    return statistics.median(xs) if xs else default


def _mean(xs, default=0.0):
    return statistics.fmean(xs) if xs else default


def codec_bench(parquet_dir: str) -> dict:
    """encode/decode MB/s and ratio per column, and the selector's share
    of encode time, on ``CODEC_CHUNKS`` evenly spaced chunks."""
    import pyarrow.parquet as pq

    from fhirflat_spark.codecs import decode_array, encode_array
    from fhirflat_spark.codecs.core import string_parts, to_physical
    from fhirflat_spark.selector import choose_codec

    table = pq.read_table(parquet_dir, columns=CODEC_COLS)
    n = table.num_rows
    starts = [int(i * max(n - CHUNK_ROWS, 0) / max(CODEC_CHUNKS - 1, 1))
              for i in range(CODEC_CHUNKS)]
    out: dict = {}
    choose_s = encode_s = 0.0
    n_choose = 0
    for col in CODEC_COLS:
        raw = enc_bytes = 0
        t_enc = t_dec = 0.0
        for s in starts:
            arr = table.column(col).slice(s, CHUNK_ROWS).combine_chunks()
            lengths, data = string_parts(arr)
            raw += len(data) + lengths.nbytes
            blob, te = _best(lambda: encode_array(arr))
            back, td = _best(lambda: decode_array(blob))
            if not back.equals(arr):
                raise AssertionError(f"codec round trip differs on {col}")
            _, tc = _best(lambda: choose_codec(to_physical(arr)))
            enc_bytes += len(blob)
            t_enc += te
            t_dec += td
            choose_s += tc
            n_choose += 1
        encode_s += t_enc
        out[f"codecs.encode_mbps.{col}"] = raw / 1e6 / t_enc
        out[f"codecs.decode_mbps.{col}"] = raw / 1e6 / t_dec
        out[f"codecs.ratio.{col}"] = enc_bytes / raw
    out["selector.choose_ms_per_chunk"] = choose_s * 1e3 / n_choose
    out["selector.share_of_encode"] = choose_s / encode_s
    return out


def _best(fn):
    """(result, median wall of ``CODEC_REPS`` calls)."""
    walls = []
    for _ in range(CODEC_REPS):
        t = time.perf_counter()
        res = fn()
        walls.append(time.perf_counter() - t)
    return res, statistics.median(walls)


def unit(name: str) -> str:
    """Unit of a per-layer metric, from the metric part of its name."""
    part = "_".join(name.split(".")[1:]) + "_"
    if part.startswith(("ratio_", "share_of_encode_")) or part.endswith(
            ("_frac_", "_per_raw_byte_")):
        return "ratio"
    for token, u in (("_mbps_", "MB/s"), ("_ms_", "ms"), ("_s_", "s"),
                     ("_bytes_", "bytes")):
        if token in part:
            return u
    return "count"


def layer_metrics(spans: list[Span], log: EventLog, codec_names) -> dict:
    by_name: dict[str, list[Span]] = {}
    for s in spans:
        by_name.setdefault(s.name, []).append(s)

    def walls(name):
        return [s.wall_ms for s in by_name.get(name, ())]

    def stats(name):
        return [span_stats(s, spans, log) for s in by_name.get(name, ())]

    m: dict = {}
    enc = stats("encode.encode_table")
    enc_spans = by_name.get("encode.encode_table", [])
    m["encode.plan_partition_ids_s"] = _med(walls("encode.plan_partition_ids")) / 1e3
    # scan stages (neither shuffle write nor read) only run when encode
    # counts keys itself; with caller key_counts they are always 0, so
    # they count towards accounted_frac but get no metric of their own
    for kind in ("map", "reduce"):
        m[f"encode.{kind}_stage_wall_s"] = _med([e[f"{kind}_stage_ms"] for e in enc]) / 1e3
    m["encode.driver_s"] = _med([e["driver_ms"] for e in enc]) / 1e3
    m["encode.accounted_frac"] = _med([
        (e["scan_stage_ms"] + e["map_stage_ms"] + e["reduce_stage_ms"]
         + e["driver_ms"]) / e["wall_ms"] for e in enc])
    m["encode.executor_cpu_s"] = _med([e["cpu_s"] for e in enc])
    m["encode.gc_s"] = _med([e["gc_s"] for e in enc])
    m["encode.shuffle_write_bytes"] = _med([e["shuffle_write_bytes"] for e in enc])
    m["encode.shuffle_bytes_per_raw_byte"] = _med([
        e["shuffle_write_bytes"] / s.attrs["raw_bytes"]
        for e, s in zip(enc, enc_spans)])
    m["encode.spill_bytes"] = _med([e["spill_bytes"] for e in enc])
    m["encode.py_sent_bytes"] = _med([e["py_sent_bytes"] for e in enc])
    m["encode.py_returned_bytes"] = _med([e["py_returned_bytes"] for e in enc])
    m["encode.tasks"] = _med([e["tasks"] for e in enc])
    m["encode.partitions"] = _med([s.attrs["partitions"] for s in enc_spans])
    m["encode.append_s"] = _med(walls("encode.append_table")) / 1e3

    dec = stats("decode.decode_table")
    m["decode.decode_table_s"] = _med(walls("decode.decode_table")) / 1e3
    m["decode.verify_table_s"] = _med(walls("decode.verify_table")) / 1e3
    m["decode.executor_cpu_s"] = _med([d["cpu_s"] for d in dec])
    m["decode.py_returned_bytes"] = _med([d["py_returned_bytes"] for d in dec])
    m["decode.tasks"] = _med([d["tasks"] for d in dec])
    m["decode.key_range_ms"] = _med(walls("decode.key_range"))

    src = stats("sources.datasource.read")
    m["sources.datasource.load_ms"] = _med(walls("sources.datasource.load"))
    m["sources.datasource.read_s"] = _med(walls("sources.datasource.read")) / 1e3
    m["sources.datasource.executor_cpu_s"] = _med([d["cpu_s"] for d in src])
    m["sources.datasource.point_ms"] = _med(walls("sources.datasource.point"))

    pfkr = by_name.get("manifest.partitions_for_key_range", [])
    m["manifest.partitions_for_key_range_ms"] = _med(walls("manifest.partitions_for_key_range"))
    m["manifest.parts_kept_mean"] = _mean([s.attrs["kept"] for s in pfkr])
    m["manifest.aggregate_from_metadata_ms"] = _med(walls("manifest.aggregate_from_metadata"))

    cnt = by_name.get("encoded_exec.count", [])
    m["encoded_exec.count_ms"] = _med(walls("encoded_exec.count"))
    m["encoded_exec.group_count_ms"] = _med(walls("encoded_exec.group_count"))
    m["encoded_exec.parts_metadata"] = _mean([s.attrs.get("parts_metadata", 0) for s in cnt])
    m["encoded_exec.parts_scanned"] = _mean([s.attrs.get("parts_scanned", 0) for s in cnt])

    census = {c: 0 for c in codec_names}
    for s in by_name.get("decode.codec_report", []):
        for row in s.attrs["report"]:
            if row["codec"] in census:
                census[row["codec"]] += int(row["chunks"])
    for c, k in census.items():
        m[f"codecs.chunks.{c}"] = k

    m["spark.failed_tasks"] = log.failed_tasks
    return m
