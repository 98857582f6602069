"""The closed-loop workloads. Each has one client: an op starts when
the previous op and its checks have finished.

A workload object goes through ``generate`` (inputs, before any clock),
``setup`` (timed into ``setup_s``), then ops. ``op`` is the timed part;
``check_op`` runs after it, untimed, and returns an error text or None.
Warm-up ops are checked too; a warm-up whose check fails fails every op
of the run, since the later ops repeat its work on its state.
"""

from __future__ import annotations

import os
import time

import numpy as np

import gen
import reference

# size -> inputs; "smoke" is a few-thousand-row run for the tests
SIZES = {
    "full": {"sf": 0.01, "docs": 1000, "batch": 100, "takedown": 5, "vectors": 1000,
             "collections": 20, "per_collection": 10},
    "smoke": {"sf": 0.001, "docs": 300, "batch": 40, "takedown": 3, "vectors": 300,
              "collections": 4, "per_collection": 5},
}


class WarehouseSql:
    """One op is one pass, in seeded order, over a fixed mix of
    registered relational, window and event-time queries, each run to
    completion through the ``noop`` sink."""

    name = "warehouse_sql"
    # the JIT is still compiling through the second pass: the third
    # pass's CPU time repeats within a few percent, the second's does not
    warmup_ops = 2
    op_seconds = 8.0
    MIX = ("q1_pricing_summary", "q3_shipping_priority", "q5_local_supplier_volume",
           "q10_returned_items", "join_left_outer", "join_salted_skew", "agg_cube",
           "window_ranking", "window_latest_per_key", "sort_multi_key",
           "events_session_window", "scalar_json_pack")

    def __init__(self, run_dir: str, seed: int, size: dict):
        self.data = os.path.join(run_dir, "tables")
        self.seed = seed
        self.size = size

    def generate(self) -> dict:
        return {"rows": gen.write_tables(self.data, self.size["sf"], self.seed)}

    def setup(self, spark, tr) -> None:
        import __spark_entry__
        from coursera_etl_pipeline_spark.catalog import load_tables

        self.spark = spark
        self.queries = {q: __spark_entry__.queries()[q] for q in self.MIX}
        with tr.span("catalog.load_s"):
            load_tables(spark, self.data)

    def prepare(self, i: int) -> dict:
        order = list(self.MIX)
        np.random.default_rng([self.seed, 10, i]).shuffle(order)
        return {"order": order, "collect": i == 0}

    def op(self, inp: dict, tr) -> dict:
        """Passes drain each query into the ``noop`` sink, except the
        first warm-up pass, which collects each output for ``check_op``."""
        out = {}
        for q in inp["order"]:
            with tr.span(f"operators.{q}.s"):
                with tr.span("driver.build_s", build=True):
                    df = self.queries[q](self.spark, self.data)
                tr.plan(df)
                with tr.span("exec.s"):
                    if inp["collect"]:
                        out[q] = df.toArrow()
                    else:
                        df.write.format("noop").mode("overwrite").save()
        return out

    def check_op(self, inp: dict, result: dict) -> str | None:
        """Each collected output against DuckDB running the query's
        registered oracle SQL over the same parquet files."""
        import duckdb

        import __spark_entry__
        from coursera_etl_pipeline_spark.catalog import TABLES

        if not result:
            return None
        oracles = __spark_entry__.oracle_sql()
        con = duckdb.connect()
        try:
            con.execute("SET threads TO 2")
            con.execute("SET memory_limit = '2GB'")
            for t in TABLES:
                p = os.path.join(self.data, f"{t}.parquet")
                if os.path.exists(p):
                    con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
            for q, got in result.items():
                res = con.execute(oracles[q])
                diff = reference.same_rows(*reference.arrow_rows(got),
                                           [d[0] for d in res.description], res.fetchall())
                if diff:
                    return f"{q}: {diff}"
        finally:
            con.close()
        return None


class CoursesIngest:
    """The first part of an ``IngestLifecycle`` op, one scheduled tick of
    the reference ETL: land one new response file, run the streaming
    append over the landing zone, then the batch path (transform the
    newest file, write the CSV, read it back, append to the managed
    table). Both appends dedup on (collection_id, course_id)."""

    KEYS = ["collection_id", "course_id"]

    def __init__(self, run_dir: str, seed: int, size: dict):
        self.root = run_dir
        self.landing = os.path.join(run_dir, "landing")
        self.csv = os.path.join(run_dir, "courses_csv")
        self.stream_out = os.path.join(run_dir, "courses_stream")
        self.ckpt = os.path.join(run_dir, "courses_ckpt")
        self.table_dir = os.path.join(run_dir, "spark-warehouse", "courses")
        self.feed = gen.CourseFeed(seed, size["collections"], size["per_collection"])

    def generate(self) -> dict:
        os.makedirs(self.landing)
        return {"entities_per_tick": self.feed.n_collections * self.feed.per_collection}

    def setup(self, spark, tr) -> None:
        self.spark = spark

    def prepare(self, i: int) -> str:
        """Write the tick's response next to the landing zone; the op
        lands it with one rename."""
        staged = os.path.join(self.root, "staged")
        os.makedirs(staged, exist_ok=True)
        return self.feed.next_file(staged)

    def op(self, staged: str, tr) -> None:
        from coursera_etl_pipeline_spark.plans import pipeline
        from coursera_etl_pipeline_spark.streaming import pipeline_stream

        t_start = time.time()
        os.replace(staged, os.path.join(self.landing, os.path.basename(staged)))
        glob = os.path.join(self.landing, "coursera_response_*.json")
        with tr.span("streaming.tick_s"):
            with tr.span("driver.build_s", build=True):
                courses = pipeline_stream.stream_courses(self.spark, glob)
            q = pipeline_stream.start_append(courses, self.stream_out, self.ckpt,
                                             dedup_keys=self.KEYS)
            q.awaitTermination()
        with tr.span("plans.transform_s"):
            with tr.span("driver.build_s", build=True):
                df = pipeline.run_transform(self.spark, glob)
            tr.plan(df)
            pipeline.write_csv(df, self.csv)
        with tr.span("plans.read_s"):
            with tr.span("driver.build_s", build=True):
                back = pipeline.read_courses_csv(self.spark, self.csv)
        with tr.span("plans.append_s"):
            pipeline.append_to_table(back, "courses", dedup_keys=self.KEYS)
        if tr.enabled:
            for p in q.recentProgress:
                tr.note("streaming.batch_rows", p.get("numInputRows", 0))
                tr.note("streaming.add_batch_ms", p["durationMs"].get("addBatch", 0))
                tr.note("streaming.wal_commit_ms", p["durationMs"].get("walCommit", 0))
            for d in (self.csv, self.stream_out, self.table_dir):
                for root, _dirs, files in os.walk(d):
                    for f in files:
                        st = os.stat(os.path.join(root, f))
                        if st.st_mtime >= t_start:
                            tr.note("sources.files_written", 1)
                            tr.note("sources.bytes_written", st.st_size)

    @staticmethod
    def _text(v) -> str:
        if isinstance(v, bool):
            return "true" if v else "false"
        return "NULL" if v is None else str(v)

    def _rows(self, rows) -> list[tuple]:
        return sorted(tuple(self._text(v) for v in r) for r in rows)

    def check_op(self, staged, result) -> str | None:
        """The CSV holds exactly the newest file's rows; the managed
        table and the stream dataset hold every distinct row delivered
        so far, once."""
        import csv

        import pyarrow.parquet as pq

        want_all = self._rows(self.feed.rows.values())
        want_csv = self._rows(self.feed.last_rows.values())
        got_csv = []
        for name in sorted(os.listdir(self.csv)):
            if name.endswith(".csv"):
                with open(os.path.join(self.csv, name), newline="", encoding="utf-8") as f:
                    r = csv.reader(f)
                    header = next(r, None)
                    if header is not None and list(header) != list(gen.COURSE_COLUMNS):
                        return f"CSV header {header}"
                    got_csv.extend(r)
        if sorted(tuple(x) for x in got_csv) != want_csv:
            return f"CSV holds {len(got_csv)} rows, expected {len(want_csv)}"
        for label, path in (("table", self.table_dir), ("stream", self.stream_out)):
            t = pq.read_table(path).select(list(gen.COURSE_COLUMNS))
            got = self._rows(zip(*(t.column(c).to_pylist() for c in t.column_names)))
            if got != want_all:
                return f"{label} holds {len(got)} rows, expected {len(want_all)}"
        return None


class CorpusLifecycle:
    """A parquet dedup-index store in the delete-capable layout,
    maintained tick by tick; the second part of an ``IngestLifecycle``
    op. Each tick: ingest an arriving batch (part of it near-duplicates
    of earlier documents), take a few indexed documents down, compute
    the batch's keep-representative verdict (MinHash-LSH pairs, then
    connected components), and answer an IVF top-k query over the
    embeddings, relabelled per op so each op sees new inputs."""

    DUP_SHARE = 0.3
    TOP_K = 5
    N_QUERIES = 10
    RECALL_FLOOR = 0.6
    # the exact-Jaccard verify step's filter, as Spark prints it
    VERIFY_FILTER = ">= 0.8"

    def __init__(self, run_dir: str, seed: int, size: dict):
        self.root = run_dir
        self.seed = seed
        self.size = size
        self.corpus = gen.Corpus(seed)
        self.model = reference.LshModel()
        self.dirs = {n: os.path.join(run_dir, "index", n)
                     for n in ("post", "band", "ledger", "tpost", "tband")}
        self.batches = os.path.join(run_dir, "batches")
        self.rng = np.random.default_rng([seed, 11])

    def generate(self) -> dict:
        os.makedirs(self.batches)
        base = self.corpus.batch(self.size["docs"], dup_share=0.0)
        self.base_ids = [d for d, _ in base]
        self.corpus.write(base, os.path.join(self.root, "documents.parquet"))
        self.model.seed(base)
        self.vecs, labels = gen.embeddings(self.size["vectors"], self.seed)
        gen.write_embeddings(self.vecs, labels, os.path.join(self.root, "embeddings.parquet"))
        return {"corpus_docs": len(base), "vectors": len(self.vecs)}

    def setup(self, spark, tr) -> None:
        """Seed the store with the frozen corpus's artifacts."""
        from coursera_etl_pipeline_spark.llm_ops.dedup import minhash_index_artifacts

        self.spark = spark
        docs = spark.read.parquet(os.path.join(self.root, "documents.parquet"))
        post, band = minhash_index_artifacts(docs)
        post.write.parquet(self.dirs["post"])
        band.write.parquet(self.dirs["band"])
        spark.createDataFrame([], "doc_id long, partner long").write.parquet(self.dirs["ledger"])
        post.limit(0).write.parquet(self.dirs["tpost"])
        band.limit(0).write.parquet(self.dirs["tband"])
        self.emb = spark.read.parquet(os.path.join(self.root, "embeddings.parquet"))

    def prepare(self, i: int) -> dict:
        batch = self.corpus.batch(self.size["batch"], self.DUP_SHARE)
        path = os.path.join(self.batches, f"batch_{i:05d}.parquet")
        self.corpus.write(batch, path)
        live = sorted(set(self.base_ids) & self.model.indexed)
        removed = [int(x) for x in self.rng.choice(live, self.size["takedown"], replace=False)]
        shift = int(self.rng.integers(0, len(self.vecs)))
        return {"batch": batch, "path": path, "removed": removed, "shift": shift}

    def op(self, inp: dict, tr) -> dict:
        from pyspark.sql import functions as F

        from coursera_etl_pipeline_spark.llm_ops.clusters import dedup_survivors
        from coursera_etl_pipeline_spark.llm_ops.dedup import minhash_lsh_pairs
        from coursera_etl_pipeline_spark.llm_ops.similarity import ann_topk_ivf
        from coursera_etl_pipeline_spark.streaming.parity import (
            apply_index_delete,
            apply_index_increment,
        )

        d = self.dirs
        spark = self.spark
        bdf = spark.read.parquet(inp["path"])
        with tr.span("llm_ops.dedup.increment_s"):
            apply_index_increment(bdf, d["post"], d["band"],
                                  aux_dirs=(d["ledger"], d["tpost"], d["tband"]))
        removed = spark.createDataFrame([(x,) for x in inp["removed"]], "doc_id long")
        with tr.span("llm_ops.dedup.delete_s"):
            apply_index_delete(spark, removed, d["post"], d["band"], d["ledger"],
                               d["tpost"], d["tband"])
        with tr.span("driver.build_s", build=True):
            pairs = minhash_lsh_pairs(bdf).select("doc_a", "doc_b")
        with tr.span("llm_ops.clusters.cc_s", build=True):
            with tr.span("driver.build_s", build=True):
                kept = dedup_survivors(bdf, pairs).select("doc_id")
        tr.plan(kept)
        with tr.span("exec.s"):
            survivors = [r.doc_id for r in kept.collect()]
        n = len(self.vecs)
        emb = self.emb.withColumn("vec_id", (F.col("vec_id") + inp["shift"]) % n)
        with tr.span("llm_ops.similarity.ann_s"):
            with tr.span("driver.build_s", build=True):
                ann = ann_topk_ivf(emb, k=self.TOP_K, n_queries=self.N_QUERIES)
            tr.plan(ann)
            with tr.span("exec.s"):
                hits = [tuple(r) for r in ann.collect()]
        return {"pairs": pairs, "survivors": survivors, "hits": hits}

    def check_op(self, inp: dict, result: dict) -> str | None:
        import pyarrow.parquet as pq

        self.model.increment(inp["batch"])
        self.model.delete(inp["removed"])
        band = pq.read_table(self.dirs["band"])
        got = sorted(zip(*(band.column(c).to_pylist() for c in ("doc_id", "band", "bucket"))))
        if got != self.model.band_store():
            return f"band store: {len(got)} rows, rebuild has {len(self.model.band_store())}"
        ledger = pq.read_table(self.dirs["ledger"])
        got = sorted(zip(ledger.column("doc_id").to_pylist(), ledger.column("partner").to_pylist()))
        if got != self.model.ledger_rows():
            return f"ledger: {len(got)} rows, rebuild has {len(self.model.ledger_rows())}"
        pairs = [(r.doc_a, r.doc_b) for r in result["pairs"].collect()]
        sh = self.model.sh
        for a, b in pairs:
            if reference.jaccard(sh[a], sh[b]) < reference.THRESHOLD:
                return f"pair ({a}, {b}) has Jaccard {reference.jaccard(sh[a], sh[b]):.3f}"
        ids = [doc for doc, _ in inp["batch"]]
        comp = reference.components(ids, pairs)
        want = sorted(doc for doc in ids if comp[doc] == doc)
        if sorted(result["survivors"]) != want:
            return f"survivors: {len(result['survivors'])}, components: {len(want)}"
        n = len(self.vecs)
        ids = (np.arange(n) + inp["shift"]) % n
        exact = reference.exact_topk(self.vecs, ids, range(self.N_QUERIES), self.TOP_K)
        found = {(q, nb) for q, nb, _rank, _sim in result["hits"]}
        recall = sum((q, nb) in found for q, nbs in exact.items() for nb in nbs) / (
            self.N_QUERIES * self.TOP_K)
        if recall < self.RECALL_FLOOR:
            return f"IVF recall {recall:.2f} below {self.RECALL_FLOOR}"
        return None


class IngestLifecycle:
    """One op is one scheduled tick of the data platform: a
    ``CoursesIngest`` tick, then a ``CorpusLifecycle`` op, with the
    checks of both."""

    name = "ingest_lifecycle"
    # seeding the index store runs the shingle, signature and
    # parquet-write paths an op runs; a warm-up op on top (about 27 s)
    # would not fit the run, so the timed op carries the first tick's
    # JIT cost
    warmup_ops = 0
    op_seconds = 30.0
    VERIFY_FILTER = CorpusLifecycle.VERIFY_FILTER

    def __init__(self, run_dir: str, seed: int, size: dict):
        self.courses = CoursesIngest(run_dir, seed, size)
        self.corpus = CorpusLifecycle(run_dir, seed, size)

    def generate(self) -> dict:
        return {**self.courses.generate(), **self.corpus.generate()}

    def setup(self, spark, tr) -> None:
        self.courses.setup(spark, tr)
        self.corpus.setup(spark, tr)

    def prepare(self, i: int) -> tuple:
        return self.courses.prepare(i), self.corpus.prepare(i)

    def op(self, inp: tuple, tr) -> tuple:
        return self.courses.op(inp[0], tr), self.corpus.op(inp[1], tr)

    def check_op(self, inp: tuple, result: tuple) -> str | None:
        return (self.courses.check_op(inp[0], result[0])
                or self.corpus.check_op(inp[1], result[1]))


WORKLOADS = {w.name: w for w in (WarehouseSql, IngestLifecycle)}
