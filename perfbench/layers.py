"""Per-layer metrics of the traced run.

Every traced run reports every metric named here, so all workloads
print the same set; a layer a workload does not exercise reads 0.
Names follow the pyrle_spark module each metric observes.
"""

from __future__ import annotations

import statistics
import time

import spans as spans_mod

COLUMNS = ("url", "warc_ts", "html", "text", "lang")
# codec names as they appear in lineage, '+' written as '_'
CODECS = ("raw", "raw_zstd", "rle", "delta", "for", "dict", "dict_zstd",
          "fsst", "alp", "alp_zstd", "bss_zstd", "other")
# operation type -> the public function it calls, named by module
OP_FN = {
    "create": "encode_job.encode_parquet_dir",
    "append": "encode_job.encode_parquet_dir",
    "scan": "encode_job.decode_table",
    "lookup": "encode_job.point_lookup",
    "select": "encode_job.scan_encoded",
    "agg": "compressed.count_by_value",
    "count_eq": "compressed.count_where_eq",
    "rle_frame": "rleframe.pipeline",
}
WRAPS = (
    # (module path, owner attribute or None, function, span name)
    ("pyrle_spark.sources.icetable", "IceTable", "commit_files", "icetable.commit_files"),
    ("pyrle_spark.sources.icetable", None, "read_delete_entries", "icetable.read_delete_entries"),
    ("pyrle_spark.kernels.rlecore", None, "binary_op", "rlecore.binary_op"),
    ("pyrle_spark.kernels.rlecore", None, "coverage", "rlecore.coverage"),
    ("pyrle_spark.kernels.rlecore", None, "remove_dupes", "rlecore.remove_dupes"),
    ("pyrle_spark.kernels.rlecore", None, "getitems", "rlecore.getitems"),
)
RLEDICT_OPS = ("coverage", "add", "mul", "getitems")


def _names() -> list:
    out = [("session.start_s", "s"), ("webtext.gen_s", "s"), ("webtext.raw_bytes", "bytes"),
           ("codecs.encode_busy_s", "s"), ("codecs.encode_mb_per_busy_s", "MB/s"),
           ("codecs.busy_share", "frac")]
    out += [(f"codecs.blocks.{c}", "count") for c in CODECS]
    out += [(f"codecs.out_per_in.{c}", "ratio") for c in COLUMNS]
    for kind in ("encode", "decode", "select"):
        out += [(f"codecs.{kind}_ms.{c}", "ms") for c in COLUMNS]
    for fn in dict.fromkeys(OP_FN.values()):
        out += [(f"{fn}.calls", "count"), (f"{fn}.wall_ms_p50", "ms"), (f"{fn}.jobs", "count"),
                (f"{fn}.stages", "count"), (f"{fn}.tasks", "count")]
    out.append(("encode_job.encode_parquet_dir.job_share", "frac"))
    for _, _, _, name in WRAPS:
        out += [(f"{name}.calls", "count"), (f"{name}.self_ms", "ms")]
    out += [("icetable.data_files", "count"), ("icetable.delete_files", "count"),
            ("icetable.metadata_files", "count"), ("icetable.metadata_bytes", "bytes"),
            ("icetable.bytes_written_per_raw", "ratio")]
    out += [(f"rledict.{op}.wall_ms_p50", "ms") for op in RLEDICT_OPS]
    out += [("jvm.gc_ms", "ms"), ("spark.failed_tasks", "count"), ("host.steal_frac", "frac"),
            ("trace.self_time_coverage", "frac"), ("trace.spans_per_op", "count"),
            ("trace.bookkeeping_ms_per_op", "ms"), ("trace.overhead_ms_per_op", "ms")]
    return out


PER_LAYER = _names()


def install_wraps(tracer) -> None:
    import importlib

    for mod_path, owner, fn, name in WRAPS:
        mod = importlib.import_module(mod_path)
        tracer.wrap(getattr(mod, owner) if owner else mod, fn, name)


def _codec_key(codec: str) -> str:
    key = codec.replace("+", "_")
    return key if key in CODECS else "other"


def _median(values) -> float:
    return statistics.median(values) if values else 0.0


def probe_codecs(table) -> dict:
    """Direct encode/decode/select calls on one sampled block per column
    (the Python workers are invisible to driver-side wraps)."""
    from pyrle_spark.codecs import decode_array, encode_array
    from pyrle_spark.codecs.base import arrow_to_payload
    from pyrle_spark.codecs.selector import choose_fixed, choose_var, column_stats

    out: dict = {}
    for col in COLUMNS:
        arr = table.column(col).combine_chunks()
        enc_t, dec_t, sel_t = [], [], []
        for _ in range(3):
            t0 = time.perf_counter()
            enc = encode_array(arr)
            enc_t.append(time.perf_counter() - t0)
            t0 = time.perf_counter()
            back = decode_array(enc)
            dec_t.append(time.perf_counter() - t0)
            if not back.equals(arr):
                raise RuntimeError(f"codec round trip changed column {col}")
            t0 = time.perf_counter()
            kind, payload, _ = arrow_to_payload(arr)
            stats = column_stats(kind, payload)
            if kind == "fixed":
                choose_fixed(stats, payload.dtype.kind)
            else:
                choose_var(stats)
            sel_t.append(time.perf_counter() - t0)
        out[f"codecs.encode_ms.{col}"] = _median(enc_t) * 1e3
        out[f"codecs.decode_ms.{col}"] = _median(dec_t) * 1e3
        out[f"codecs.select_ms.{col}"] = _median(sel_t) * 1e3
    return out


def lineage_metrics(summaries_by_cycle: list, cpus: int) -> dict:
    """Codec metrics from the lineage encode_parquet_dir returned,
    per cycle (median over cycles)."""
    out: dict = {}
    if not summaries_by_cycle or not any(summaries_by_cycle):
        return out
    busy, mb_busy, share = [], [], []
    blocks = {c: [] for c in CODECS}
    ratio = {c: [] for c in COLUMNS}
    for sums in summaries_by_cycle:
        ns = sum(p["encode_ns"] for s in sums for p in s["partitions"])
        b_in = sum(s["bytes_in"] for s in sums)
        wall = sum(s["wall_s"] for s in sums)
        busy.append(ns / 1e9)
        mb_busy.append(b_in / 1e6 / (ns / 1e9) if ns else 0.0)
        share.append((ns / 1e9) / (wall * cpus) if wall else 0.0)
        cyc_blocks = dict.fromkeys(CODECS, 0)
        col_in = dict.fromkeys(COLUMNS, 0)
        col_out = dict.fromkeys(COLUMNS, 0)
        for s in sums:
            for c in s["columns"]:
                cyc_blocks[_codec_key(c["codec"])] += c["blocks"]
                if c["column"] in col_in:
                    col_in[c["column"]] += c["bytes_in"]
                    col_out[c["column"]] += c["bytes_out"]
        for c in CODECS:
            blocks[c].append(cyc_blocks[c])
        for c in COLUMNS:
            ratio[c].append(col_out[c] / col_in[c] if col_in[c] else 0.0)
    out["codecs.encode_busy_s"] = _median(busy)
    out["codecs.encode_mb_per_busy_s"] = _median(mb_busy)
    out["codecs.busy_share"] = _median(share)
    for c in CODECS:
        out[f"codecs.blocks.{c}"] = _median(blocks[c])
    for c in COLUMNS:
        out[f"codecs.out_per_in.{c}"] = _median(ratio[c])
    return out


def job_metrics(samples, jobstats: dict, summaries: dict, cycles: int) -> dict:
    """Per-function call counts, walls and Spark work per call.
    ``jobstats`` and ``summaries`` are keyed by (cycle, index)."""
    out: dict = {}
    by_fn: dict = {}
    for s in samples:
        fn = OP_FN.get(s.op)
        if fn:
            by_fn.setdefault(fn, []).append(s)
    for fn, ss in by_fn.items():
        js = [jobstats[(s.cycle, s.index)] for s in ss if (s.cycle, s.index) in jobstats]
        out[f"{fn}.calls"] = len(ss) / max(cycles, 1)
        out[f"{fn}.wall_ms_p50"] = _median([s.wall_s * 1e3 for s in ss])
        for k in ("jobs", "stages", "tasks"):
            out[f"{fn}.{k}"] = _median([j[k] for j in js])
    shares = [
        summaries[(s.cycle, s.index)]["wall_s"] / s.wall_s
        for s in by_fn.get("encode_job.encode_parquet_dir", [])
        if (s.cycle, s.index) in summaries and s.wall_s > 0
    ]
    out["encode_job.encode_parquet_dir.job_share"] = _median(shares)
    return out


def span_metrics(spans: list, cycles: int, n_ops: int) -> dict:
    out: dict = {}
    per = spans_mod.per_name(spans)
    for _, _, _, name in WRAPS:
        calls, self_s = per.get(name, (0, 0.0))
        out[f"{name}.calls"] = calls / max(cycles, 1)
        out[f"{name}.self_ms"] = self_s * 1e3 / max(cycles, 1)
    for op in RLEDICT_OPS:
        durs = [(s.end - s.start) * 1e3 for s in spans if s.name == f"rledict.{op}"]
        out[f"rledict.{op}.wall_ms_p50"] = _median(durs)
    selfs = spans_mod.self_times(spans)
    roots = [s for s in spans if s.parent is None and s.name.startswith("op.")]
    root_of: dict = {}
    for s in spans:  # parents precede children, so one pass resolves roots
        root_of[s.sid] = s.sid if s.parent is None else root_of[s.parent]
    root_ids = {r.sid for r in roots}
    covered = sum(v for sid, v in selfs.items() if root_of[sid] in root_ids)
    total = sum(r.end - r.start for r in roots)
    out["trace.self_time_coverage"] = covered / total if total else 0.0
    out["trace.spans_per_op"] = len(spans) / max(n_ops, 1)
    return out


def assemble(parts: list) -> dict:
    """Merge partial dicts into the full per-layer set (0 where unset)."""
    vals: dict = {}
    for p in parts:
        vals.update(p)
    unknown = set(vals) - {n for n, _ in PER_LAYER}
    if unknown:
        raise KeyError(f"unlisted per-layer metrics: {sorted(unknown)}")
    return {n: {"value": float(vals.get(n, 0.0)), "unit": u} for n, u in PER_LAYER}
