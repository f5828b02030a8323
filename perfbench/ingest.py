"""Landing-zone ingest into a live collection, one producer: the
streaming half of the ``curate`` workload.

The collection is written by ``write_vec`` with an ``lsh`` index, next
to its exact-key index (``normalized_text_key``). The producer lands
seeded batches of new docs (``gen.BATCH_SIZE``, with stated shares of
exact copies of collection docs and of within-batch copies). Each batch
is drained through ``run_available_now(ingest_dedup_stream(...))``
against the index, the admitted docs are embedded by ``VecFrame.embed``
with a ``CallableEmbedder`` and appended with ``write_vec(mode="append")``
under the same LSH spec, and their keys join the index. A batch ends
when ``read_vec`` sees the new row count.

It measures the write side of ``sources.vec_io``, the ``streaming``
micro-batch cost and the Python embedder boundary, with no top-k and
no pair join.
"""

from __future__ import annotations

import os

import pyarrow as pa
import pyarrow.parquet as pq

from perfbench import gen
from perfbench.embedfn import hashed_projection

WARMUP_BATCH = 1_000_000  # a batch number no run reaches
_INGEST = "streaming.pipelines.ingest_dedup_stream"
_SCHEMA = "doc_id bigint, text string"


class Ingest:
    op_span = "ingest.batch"

    def __init__(self, spark, tracer, seed: int):
        self.spark, self.tracer, self.seed = spark, tracer, seed

    # -- setup ------------------------------------------------------
    def generate(self, d: str) -> None:
        self.coll = gen.collection(self.seed)
        self.docs_path = os.path.join(d, "docs.parquet")
        gen.write_collection(self.coll, self.docs_path)

    def build(self, d: str) -> None:
        import tidyvec_spark as tv
        from tidyvec_spark.operators.ann import random_planes
        from tidyvec_spark.operators.dedup import normalized_text_key

        t = self.tracer
        self.live_path = os.path.join(d, "lsh")
        self.index_path = os.path.join(d, "index")
        self.landing = os.path.join(d, "landing")
        self.spec = {"kind": "lsh",
                     "planes": random_planes(gen.DIM, gen.LSH_PLANES, seed=gen.PLANES_SEED)}
        self.embedder = tv.CallableEmbedder(hashed_projection, dim=gen.DIM)
        df = self.spark.read.parquet(self.docs_path)
        with t.span("sources.vec_io.write_vec"):
            tv.write_vec(tv.vec(df, embedding_fn=self.embedder, dim=gen.DIM),
                         self.live_path, index=self.spec)
        with t.span("ingest.index"):
            df.select(normalized_text_key("text").alias("h")).write.parquet(self.index_path)
        with t.span("sources.vec_io.read_vec"):
            self.live = tv.read_vec(self.spark, self.live_path)
        self.known = {gen.normalized_key(x) for x in self.coll.texts}
        self.live_ids = set(self.coll.ids)

    def warmup(self) -> None:
        # untimed first-use costs: the first streaming query, codegen and
        # the Python workers of the stateful operator and the embedder.
        # Two batches: after one, the next batch is still about a fifth
        # slower than the ones after it.
        for i in (WARMUP_BATCH, WARMUP_BATCH + 1):
            if not self.batch(i):
                raise RuntimeError("ingest warm-up batch failed its checks")

    # -- the loop ---------------------------------------------------
    def batch(self, i: int) -> bool:
        """Land, dedup, embed and append batch ``i``; True when the
        admitted ids and the new row count are right."""
        import tidyvec_spark as tv
        from pyspark.sql import functions as F
        from tidyvec_spark.streaming.pipelines import (
            ingest_dedup_stream, run_available_now)

        b = gen.ingest_batch(self.coll, i)
        truth = gen.admitted_ids(b, self.known)
        land = os.path.join(self.landing, f"batch_{i}")
        table = f"ingest_batch_{i}"
        t = self.tracer
        with t.span(self.op_span):
            with t.span("ingest.land"):
                os.makedirs(land)
                pq.write_table(
                    pa.table({"doc_id": pa.array(b.ids, type=pa.int64()),
                              "text": pa.array(b.texts)}),
                    os.path.join(land, "part-0.parquet"),
                )
            with t.span(_INGEST) as s, t.span(_INGEST + ".run"):
                stream = self.spark.readStream.schema(_SCHEMA).parquet(land)
                index = self.spark.read.parquet(self.index_path)
                run_available_now(ingest_dedup_stream(stream, index, "text", "doc_id"),
                                  table, output_mode="update")
                rows = (self.spark.table(table).groupBy("h")
                        .agg(F.min("keep_id").alias("keep_id")).collect())
            admitted = {int(r["keep_id"]) for r in rows}
            with t.span("sources.vec_io.write_vec"):
                new = (self.spark.read.parquet(land)
                       .filter(F.col("doc_id").isin(sorted(admitted))))
                vf = tv.vec(new, embedding_fn=self.embedder, dim=gen.DIM).embed("text")
                with t.span("sources.vec_io.write_vec.run"):
                    tv.write_vec(vf, self.live_path, mode="append", index=self.spec)
            with t.span("ingest.index"):
                self.spark.createDataFrame(
                    [(r["h"],) for r in rows], "h string"
                ).write.mode("append").parquet(self.index_path)
            with t.span("sources.vec_io.read_vec"), t.span("sources.vec_io.read_vec.run"):
                self.live = tv.read_vec(self.spark, self.live_path)
                n = self.live.df.count()
        self.spark.catalog.dropTempView(table)
        s.attrs["admit_frac"] = len(admitted) / len(b.ids)
        self.known |= set(truth.values())
        self.live_ids |= set(truth)
        return admitted == set(truth) and n == len(self.live_ids)

    def final_checks(self) -> list[bool]:
        """The live collection holds exactly the original docs plus every
        admitted one."""
        ids = [r["doc_id"] for r in self.live.df.select("doc_id").collect()]
        return [len(ids) == len(self.live_ids) and set(ids) == self.live_ids]
