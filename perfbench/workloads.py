"""The three workloads: their set-up, operations and output checks.

Each operation is split into ``call`` (the timed region: the public
pyrle_spark function plus the Spark action that consumes its result)
and ``check`` (untimed: compares the output with what set-up computed
independently from the source data).  Spans opened here sit around the
calls into each layer; they cost nothing when tracing is off.
"""

from __future__ import annotations

import contextlib
import os
import shutil
import time

import numpy as np

import opplan
import runtime

WEBTEXT_COLS = ["url", "warc_ts", "html", "text", "lang"]


class Ctx:
    """What every workload needs from the runner."""

    def __init__(self, spark, work: str, seed: int, cpus: int, tracer=None):
        self.spark = spark
        self.work = work
        self.seed = seed
        self.cpus = cpus
        self.tracer = tracer

    def span(self, name: str):
        return self.tracer.span(name) if self.tracer else contextlib.nullcontext()


SELECT_COLS = ["url", "warc_ts", "lang"]


def digest(hashes) -> tuple:
    """The digest _hash_aggs computes, from row hashes on the driver."""
    n = x = total = 0
    for h in hashes:
        n += 1
        x ^= h
        total += h & 0xFFFFFFFF
    return (n, x, total)


def _hash_aggs(cols):
    """Order-independent digest of a row set: count, xor and the sum of
    the low 32 bits of each row's xxhash64 (no overflow under ANSI)."""
    from pyspark.sql import functions as F

    h = F.xxhash64(*cols)
    return [
        F.count(F.lit(1)).alias("n"),
        F.bit_xor(h).alias("x"),
        F.sum(h.bitwiseAND(0xFFFFFFFF)).alias("s"),
    ]


def _raw_bytes_expr():
    """Raw size of a webtext row: the bytes of its variable-width values
    plus 8 for the timestamp."""
    from pyspark.sql import functions as F

    return (
        F.octet_length("url") + F.lit(8) + F.octet_length("html")
        + F.octet_length("text") + F.octet_length("lang")
    )


class _WebtextBase:
    """Shared set-up: one block-aligned parquet source of generated
    webtext, and the digests every table check compares against."""

    n_blocks: int

    def __init__(self, ctx: Ctx):
        self.ctx = ctx
        self.src = os.path.join(ctx.work, "src")
        self.table = os.path.join(ctx.work, "table")

    @property
    def n_rows(self) -> int:
        return self.n_blocks * opplan.BLOCK_ROWS

    def build_inputs(self) -> dict:
        """Generate the source; returns the layer timings of this build."""
        from pyspark.sql import functions as F
        from pyrle_spark.sources.webtext import generate_webtext

        spark = self.ctx.spark
        shutil.rmtree(self.src, ignore_errors=True)
        t0 = time.perf_counter()
        with self.ctx.span("webtext.generate_webtext"):
            generate_webtext(
                spark, self.n_rows, seed=self.ctx.seed, block_rows=opplan.BLOCK_ROWS
            ).write.parquet(self.src)
        gen_s = time.perf_counter() - t0
        self.files = sorted(
            os.path.join(self.src, f) for f in os.listdir(self.src) if f.endswith(".parquet")
        )
        if len(self.files) != self.n_blocks:
            raise RuntimeError(f"expected {self.n_blocks} block files, got {len(self.files)}")
        # one pass over the source gives every digest the checks need
        src = spark.read.parquet(self.src).withColumn("_order", F.col("doc_seq"))
        rows = src.select(
            "_order", "lang",
            F.xxhash64("_order", *WEBTEXT_COLS).alias("h"),
            F.xxhash64("_order", *SELECT_COLS).alias("h_sel"),
            _raw_bytes_expr().alias("raw"),
        ).collect()
        self.source_rows = rows
        block_raw = [0] * self.n_blocks
        for r in rows:
            block_raw[r["_order"] // opplan.BLOCK_ROWS] += r["raw"]
        self.block_raw = block_raw
        self.expect_scan = digest(r["h"] for r in rows)
        return {"gen_s": gen_s, "raw_bytes": sum(self.block_raw)}

    def encode_config(self):
        from pyrle_spark.plans.encode_job import EncodeConfig

        return EncodeConfig(
            columns=WEBTEXT_COLS, block_rows=opplan.BLOCK_ROWS,
            block_aligned=True, input_presorted=True,
        )

    def scan(self):
        from pyrle_spark.plans.encode_job import decode_table

        with self.ctx.span("encode_job.decode_table"):
            row = decode_table(self.ctx.spark, self.table).agg(
                *_hash_aggs(["_order"] + WEBTEXT_COLS)
            ).collect()[0]
        return tuple(row)

    def sample_block(self):
        """One source block as Arrow arrays, for the direct codec probes."""
        import pyarrow.parquet as pq

        return pq.read_table(self.files[-1], columns=WEBTEXT_COLS)


class Ingest(_WebtextBase):
    """Append fresh crawl segments, scan once, reset.  The codecs and the
    write/commit path do the work; lookups, merge-on-read and the RLE
    algebra do none."""

    name = "ingest"
    APPENDS = 3

    def __init__(self, ctx: Ctx):
        super().__init__(ctx)
        # at least one block per core in every append
        self.per_append = ctx.cpus
        self.n_blocks = self.APPENDS * self.per_append
        self.plan = opplan.ingest_plan(self.per_append, self.APPENDS)
        self._walk0 = runtime.walk_table(self.table)

    def setup_table(self) -> None:
        shutil.rmtree(self.table, ignore_errors=True)
        self._walk0 = runtime.walk_table(self.table)

    def call(self, op):
        from pyrle_spark.plans.encode_job import encode_parquet_dir

        if op.kind in ("create", "append"):
            files = [self.files[i] for i in op.params]
            with self.ctx.span("encode_job.encode_parquet_dir"):
                return encode_parquet_dir(
                    self.ctx.spark, self.src, self.table, self.encode_config(), files=files
                )
        if op.kind == "scan":
            return self.scan()
        raise ValueError(op.kind)

    def check(self, op, res) -> bool:
        if op.kind in ("create", "append"):
            rows = sum(p["rows"] for p in res["partitions"])
            return rows == len(op.params) * opplan.BLOCK_ROWS and res["bytes_out"] > 0
        return res == self.expect_scan

    def raw_bytes(self, op) -> int:
        if op.kind in ("create", "append"):
            return sum(self.block_raw[i] for i in op.params)
        return sum(self.block_raw)

    def end_cycle(self) -> dict:
        walk = runtime.walk_table(self.table)
        raw = sum(self.block_raw)
        out = {
            "stored_per_raw": walk["total_bytes"] / raw,
            "bytes_written_per_raw": runtime.bytes_written(self._walk0, walk) / raw,
            **{k: walk[k] for k in ("data_files", "delete_files", "metadata_files", "metadata_bytes")},
        }
        self.setup_table()
        return out


class Serve(_WebtextBase):
    """Read-only mix on a table encoded once in set-up: per-call Spark
    planning, pruning and decode do the work; encoding does none."""

    name = "serve"

    def __init__(self, ctx: Ctx):
        super().__init__(ctx)
        self.n_blocks = ctx.cpus
        self.plan = opplan.serve_plan(ctx.seed, self.n_rows)

    def build_inputs(self) -> dict:
        out = super().build_inputs()
        rows = self.source_rows
        self.row_hash = {r["_order"]: r["h"] for r in rows}
        self.expect_agg: dict = {}
        for r in rows:
            self.expect_agg[r["lang"]] = self.expect_agg.get(r["lang"], 0) + 1
        self.expect_eq = {}
        self.expect_select = {}
        for op in self.plan:
            col, val = op.params if op.kind in ("count_eq", "select") else (None, None)
            if op.kind == "count_eq":
                self.expect_eq[op.params] = sum(1 for r in rows if r[col] == val)
            elif op.kind == "select":
                self.expect_select[op.params] = digest(r["h_sel"] for r in rows if r[col] == val)
        return out

    def setup_table(self) -> None:
        from pyrle_spark.plans.encode_job import encode_parquet_dir

        shutil.rmtree(self.table, ignore_errors=True)
        encode_parquet_dir(self.ctx.spark, self.src, self.table, self.encode_config(), files=self.files)

    def call(self, op):
        from pyspark.sql import functions as F
        from pyrle_spark.plans.compressed import count_by_value, count_where_eq
        from pyrle_spark.plans.encode_job import point_lookup, scan_encoded

        spark = self.ctx.spark
        if op.kind == "lookup":
            with self.ctx.span("encode_job.point_lookup"):
                rows = point_lookup(spark, self.table, list(op.params)).select(
                    "_order", F.xxhash64("_order", *WEBTEXT_COLS).alias("h")
                ).collect()
            return {r["_order"]: r["h"] for r in rows}
        if op.kind == "agg":
            with self.ctx.span("compressed.count_by_value"):
                rows = count_by_value(spark, self.table, op.params[0]).collect()
            return {r["value"]: r["n_rows"] for r in rows}
        if op.kind == "count_eq":
            with self.ctx.span("compressed.count_where_eq"):
                return count_where_eq(spark, self.table, *op.params).collect()[0]["n_match"]
        if op.kind == "select":
            col, val = op.params
            with self.ctx.span("encode_job.scan_encoded"):
                row = scan_encoded(
                    spark, self.table, columns=SELECT_COLS, predicates=[(col, val, val)],
                ).agg(*_hash_aggs(["_order"] + SELECT_COLS)).collect()[0]
            return tuple(row)
        if op.kind == "scan":
            return self.scan()
        raise ValueError(op.kind)

    def check(self, op, res) -> bool:
        if op.kind == "lookup":
            return res == {p: self.row_hash[p] for p in op.params}
        if op.kind == "agg":
            return res == self.expect_agg
        if op.kind == "count_eq":
            return res == self.expect_eq[op.params]
        if op.kind == "select":
            return res == self.expect_select[op.params]
        return res == self.expect_scan

    def raw_bytes(self, op) -> int:
        return sum(self.block_raw) if op.kind == "scan" else 0

    def end_cycle(self) -> dict:
        walk = runtime.walk_table(self.table)
        return {k: walk[k] for k in ("data_files", "delete_files", "metadata_files", "metadata_bytes")}


def _dense(runs, values, length: int) -> np.ndarray:
    out = np.zeros(length, dtype=np.float64)
    dec = np.repeat(np.asarray(values, dtype=np.float64), np.asarray(runs, dtype=np.int64))
    out[: len(dec)] = dec
    return out


def _dense_coverage(df, length: int) -> dict:
    """Per-key dense coverage arrays computed by brute force."""
    out = {}
    for key, sub in df.groupby("Chromosome", sort=False):
        d = np.zeros(length + 1, dtype=np.float64)
        np.add.at(d, sub["Start"].to_numpy(), 1.0)
        np.add.at(d, sub["End"].to_numpy(), -1.0)
        out[key] = np.cumsum(d)[:length]
    return out


class RleAlgebra:
    """pyrle semantics on seeded Zipf-keyed interval data: the only
    workload that runs kernels.rlecore, rle, rledict and
    operators.rleframe; the table layers do nothing here."""

    name = "rle_algebra"

    def __init__(self, ctx: Ctx):
        self.ctx = ctx
        self.plan = opplan.rle_plan()

    def build_inputs(self) -> dict:
        from pyrle_spark import RleDict

        inp = opplan.rle_inputs(self.ctx.seed)
        self.inp = inp
        length = int(max(inp.local_a["End"].max(), inp.local_b["End"].max())) + 1
        self.length = length
        ca = _dense_coverage(inp.local_a, length)
        cb = _dense_coverage(inp.local_b, length)
        zero = np.zeros(length)
        keys = sorted(set(ca) | set(cb))
        self.expect_add = {k: ca.get(k, zero) + cb.get(k, zero) for k in keys}
        self.expect_mul = {k: ca.get(k, zero) * cb.get(k, zero) for k in keys}
        # getitems numbers each query by its position among the queries
        # of the same key
        self.expect_get = {
            (key, j): float(self.expect_add[key][s:e].sum())
            for key, sub in inp.queries.groupby("Chromosome", sort=False)
            if key in self.expect_add
            for j, (s, e) in enumerate(zip(sub["Start"], sub["End"]))
        }
        spark = self.ctx.spark
        self.frame_a = spark.createDataFrame(inp.frame_a)
        self.frame_b = spark.createDataFrame(inp.frame_b)
        oracle = (RleDict(inp.frame_a) + RleDict(inp.frame_b)).to_ranges()
        self.expect_frame = sorted(
            (str(c), int(s), int(e), float(v))
            for c, s, e, v in zip(oracle["Chromosome"], oracle["Start"], oracle["End"], oracle["Score"])
        )
        return {"gen_s": 0.0, "raw_bytes": 0}

    def setup_table(self) -> None:
        pass

    def call(self, op):
        from pyrle_spark import RleDict
        from pyrle_spark.operators.rleframe import RleFrame

        if op.kind == "rle_local":
            inp = self.inp
            with self.ctx.span("rledict.coverage"):
                ra, rb = RleDict(inp.local_a), RleDict(inp.local_b)
            with self.ctx.span("rledict.add"):
                s = ra + rb
            with self.ctx.span("rledict.mul"):
                m = ra * rb
            with self.ctx.span("rledict.getitems"):
                g = s[inp.queries]
            return s, m, g
        if op.kind == "rle_frame":
            with self.ctx.span("rleframe.pipeline"):
                fa = RleFrame.from_intervals(self.frame_a)
                fb = RleFrame.from_intervals(self.frame_b)
                rows = (fa + fb).to_ranges().collect()
            return rows
        raise ValueError(op.kind)

    def check(self, op, res) -> bool:
        if op.kind == "rle_local":
            s, m, g = res
            for expect, got in ((self.expect_add, s), (self.expect_mul, m)):
                if sorted(got.rles) != sorted(expect):
                    return False
                for k, rle in got.rles.items():
                    if not np.array_equal(_dense(rle.runs, rle.values, self.length), expect[k]):
                        return False
            sums = (g["Run"] * g["Value"]).groupby([g["Chromosome"], g["ID"]]).sum()
            got_get = {(c, int(i)): float(v) for (c, i), v in sums.items()}
            keys = set(got_get) | set(self.expect_get)
            return all(got_get.get(k, 0.0) == self.expect_get.get(k, 0.0) for k in keys)
        got = sorted((str(r["Chromosome"]), int(r["Start"]), int(r["End"]), float(r["Score"])) for r in res)
        return got == self.expect_frame

    def raw_bytes(self, op) -> int:
        return 0

    def end_cycle(self) -> dict:
        return {}


WORKLOADS = {w.name: w for w in (Ingest, Serve, RleAlgebra)}
