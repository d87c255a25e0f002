"""The benchmark's two workloads.

Each is a closed loop with one client, the driver process: an
operation starts when the previous one has returned. A workload has a
cold ``setup`` (timed as set-up, repeated), and a fixed operation list
run once per pass through :meth:`Harness.op`, which times each
operation and then checks its output outside the timed region.

* ``dedup_graph`` — two near-duplicate graph queries, each built and
  written to the noop sink, plus one warm ``NearDupGraph.ensure``
  revalidation; set-up builds the persisted pair artifact cold.
* ``store_upsert`` — K seeded ~1% batches upserted into a
  ``FeatureStore``, each followed by a read-back aggregate.
"""

from __future__ import annotations

import os

import pyarrow as pa
import pyarrow.parquet as pq

from perfbench import batches
from perfbench.metrics import file_state, space_amp, tree_bytes, write_amp, written_since
from perfbench.oracle import ExpectedAnswers, frame_digest

HERE = os.path.dirname(os.path.abspath(__file__))
DATA_DIR = os.path.join(HERE, "data", "sf0.01")

# The graph queries that carry the min-label connected-components loop
# (dedup_clusters) and incremental maintenance, which runs the two-phase
# loop (connected_components_twophase) twice. The rest of the graph
# family is left out so a run fits the benchmark's time budget
# (README.md).
DEDUP_GRAPH = ("x_dedup_clusters", "x_incremental_components")
# upserts per store_upsert pass
STORE_BATCHES = 3


class DedupGraph:
    """Graph queries, each built then written to the noop sink, and a
    warm revalidation of the pair artifact they share."""

    def __init__(self, seed: int) -> None:
        from dvmax_spark.registry import all_queries

        self.seed = seed
        self.specs = {n: all_queries()[n] for n in DEDUP_GRAPH}
        self.expected = ExpectedAnswers(DATA_DIR)

    def run_query(self, h, name: str):
        spec = self.specs[name]
        with h.span(name, "queries"):
            df = spec.fn(h.spark, DATA_DIR)
        with h.span(name, "action"):
            df.write.format("noop").mode("overwrite").save()
        return df

    def check_query(self, name: str, df) -> bool:
        want = self.expected.get(name, self.specs[name].sql)
        got = frame_digest(df.toPandas())
        return (got["columns"], got["rows"], got["digest"]) == (
            want["columns"], want["rows"], want["digest"],
        )

    def setup(self, h, rep_dir: str) -> None:
        import dvmax_spark.queries_ext as qext

        qext._ndg_pairs(h.spark, DATA_DIR)

    def after_setup(self, h) -> None:
        self.pairs_digest = frame_digest(self._ndg(h).pairs().toPandas())

    def _ndg(self, h):
        import dvmax_spark.queries_ext as qext

        return qext._ndg_handle(h.spark, DATA_DIR)

    def revalidate(self, h):
        """One warm ensure of the pair artifact, on the recipe
        ``queries_ext._ndg_pairs`` builds it from."""
        from pyspark.sql import functions as F

        import dvmax_spark.catalog as catalog

        ndg = self._ndg(h)
        docs = catalog.load_table(h.spark, "documents", DATA_DIR).where(
            F.size(F.split(F.col("text"), " ")) >= 2
        )
        return ndg, ndg.ensure(docs)

    def check_revalidate(self, out) -> bool:
        ndg, pairs = out
        return ndg.last_ensure_built is False and frame_digest(pairs.toPandas()) == self.pairs_digest

    def run_pass(self, h, pass_no: int) -> dict:
        for name in DEDUP_GRAPH:
            h.op(name, lambda n=name: self.run_query(h, n), lambda df, n=name: self.check_query(n, df))
        h.op("ndg_ensure", lambda: self.revalidate(h), self.check_revalidate)
        return {}


class StoreUpsert:
    """Seeded keep-last upserts into a bucket-partitioned FeatureStore."""

    def __init__(self, seed: int) -> None:
        self.seed = seed
        li = pq.read_table(os.path.join(DATA_DIR, "lineitem.parquet")).to_pandas()
        self.width = batches.bucket_width(int(li["l_orderkey"].max()))
        self.initial = batches.project(li, self.width)
        self.first_new_key = int(li["l_orderkey"].max()) + 1

    def _schema(self):
        from pyspark.sql import types as T

        d = T.DoubleType()
        return T.StructType(
            [T.StructField("l_orderkey", T.LongType()), T.StructField("l_linenumber", T.IntegerType())]
            + [T.StructField(c, d) for c in batches.VALUES]
            + [T.StructField("bucket", T.LongType())]
        )

    def setup(self, h, rep_dir: str) -> None:
        from pyspark.sql import functions as F

        import dvmax_spark.catalog as catalog
        from dvmax_spark.store import FeatureStore

        self.root = os.path.join(rep_dir, "store")
        self.amp_dir = os.path.join(rep_dir, "amp")
        os.makedirs(self.amp_dir, exist_ok=True)
        li = catalog.load_table(h.spark, "lineitem", DATA_DIR).select(*batches.KEYS, *batches.VALUES)
        self.store = FeatureStore(h.spark, self.root, keys=batches.KEYS, partition_col="bucket")
        self.store.upsert(li.withColumn("bucket", F.expr(f"l_orderkey div {self.width}")))

    def after_setup(self, h) -> None:
        self.live = self.initial
        self.next_key = self.first_new_key

    def _zstd_bytes(self, pdf, name: str) -> int:
        """Size of ``pdf`` written once as zstd Parquet at Spark's default
        level, without the bucket column (the store keeps it in paths)."""
        path = os.path.join(self.amp_dir, name)
        table = pa.Table.from_pandas(pdf.drop(columns="bucket"), preserve_index=False)
        pq.write_table(table.replace_schema_metadata(None), path, compression="zstd", compression_level=3)
        return os.path.getsize(path)

    def read_back(self, h):
        from pyspark.sql import functions as F

        df = self.store.read()
        with h.span("read_back", "action"):
            rows = df.groupBy("bucket").agg(
                F.count(F.lit(1)).alias("n"), F.sum("l_quantity").alias("q")
            ).collect()
        return {r["bucket"]: (r["n"], r["q"]) for r in rows}

    def check_read_back(self, got: dict, full: bool) -> bool:
        want = self.live.groupby("bucket").agg(n=("l_quantity", "size"), q=("l_quantity", "sum"))
        if got != {int(b): (int(r.n), float(r.q)) for b, r in want.iterrows()}:
            return False
        if not full:
            return True
        table = self.store.read().select(*batches.COLUMNS).toPandas()
        return frame_digest(table) == frame_digest(self.live)

    def run_pass(self, h, pass_no: int) -> dict:
        written = update_bytes = files = 0
        for k in range(STORE_BATCHES):
            batch, self.next_key = batches.make_batch(
                batches.batch_rng(self.seed, pass_no, k), self.live, self.next_key, self.width
            )
            update_bytes += self._zstd_bytes(batch, "batch.parquet")
            sdf = h.spark.createDataFrame(batch, schema=self._schema())
            before = file_state(self.root)
            h.op("upsert", lambda: self.store.upsert(sdf))
            nbytes, nfiles = written_since(before, file_state(self.root))
            written += nbytes
            files += nfiles
            self.live = batches.keep_last(self.live, batch)
            last = k == STORE_BATCHES - 1
            h.op("read_back", lambda: self.read_back(h), lambda got, f=last: self.check_read_back(got, f))
        return {
            "store.bytes_written": written,
            "store.files_written": files,
            "store.write_amp": write_amp(written, update_bytes),
            "store.space_amp": space_amp(tree_bytes(self.root), self._zstd_bytes(self.live, "live.parquet")),
        }


WORKLOADS = {
    "dedup_graph": DedupGraph,
    "store_upsert": StoreUpsert,
}
