"""The three workloads. Each drives ``news_lakehouse_spark`` through its
public functions only and checks every answer it gets back.

A workload has ``generate`` (inputs from the seed, not timed), ``setup``
(initial state and warm-up), ``step`` (one closed-loop step of the
timed phase) and ``finish`` (final checks; returns counters).
``primary`` names the op whose median latency is ``op_p50_ms``; items
and seconds passed to ``rec.add_items`` give ``items_per_s``. A
``cold`` workload times one op in a fresh session, as a batch job
submitted once a day pays JVM, JIT and code-generation warm-up every
time; a warm one runs every op kind once in set-up first.
"""

from __future__ import annotations

import glob
import os
import random

from pyspark.sql import Observation
from pyspark.sql import functions as F

import gen
from model import TableModel


class WrongAnswer(AssertionError):
    """The program returned a result that disagrees with the inputs."""


def expect(ok: bool, what: str) -> None:
    if not ok:
        raise WrongAnswer(what)


def observed_count(df, *conds) -> list[int]:
    """Materialize ``df`` to the noop sink and count rows (and rows
    matching each of ``conds``) in the same pass."""
    obs = Observation()
    aggs = [F.count(F.lit(1)).alias("n")] + [
        F.sum(F.when(c, 1).otherwise(0)).alias(f"c{i}") for i, c in enumerate(conds)]
    df.observe(obs, *aggs).write.format("noop").mode("overwrite").save()
    got = obs.get
    return [got["n"]] + [got[f"c{i}"] or 0 for i in range(len(conds))]


def data_bytes(paths) -> int:
    return sum(os.path.getsize(p) for p in paths)


# --- checks: each raises WrongAnswer on an answer the inputs rule out ---------

def check_refresh(want: dict, counts: dict) -> None:
    """Gold row counts must be those the generated corpus implies."""
    wrong = {t: (counts.get(t), n) for t, n in want.items() if counts.get(t) != n}
    expect(not wrong, f"gold row counts (got, want): {wrong}")


def check_lookup(model: TableModel, key: str, got: list[tuple]) -> None:
    want = model.rows.get(key)
    expect(got == ([want] if want else []), f"lookup {key[:12]}: got {got}, want {want}")


def check_scan(model: TableModel, version: int, day, n: int) -> None:
    want = model.date_count(version, day)
    expect(n == want, f"scan of {day} at v{version}: {n} rows, want {want}")


def check_changes(model: TableModel, a: int, b: int, n: int, ins: int, dels: int) -> None:
    want = model.changes(a, b)
    expect((ins, dels) == (want["insert"], want["delete"]) and n == ins + dels,
           f"changes v{a}..v{b}: {ins} inserts {dels} deletes of {n}, want {dict(want)}")


def check_dedup(docs: dict, emb: dict, n: int, pairs: list, survivors: set, emb_pairs: list) -> None:
    """Every planted pair and no other, so every cluster is recovered
    and none merged; one survivor per cluster, its smallest id."""
    expect(n == docs["docs"], f"quality metrics for {n} docs, want {docs['docs']}")
    expect(pairs == docs["pairs"],
           f"{len(pairs)} near-duplicate pairs, want the {len(docs['pairs'])} planted")
    losers = {d for c in docs["clusters"] for d in c[1:]}
    expect(len(survivors) == docs["survivors"] and not survivors & losers,
           f"{len(survivors)} survivors, want {docs['survivors']}, one per cluster")
    expect(emb_pairs == emb["pairs"],
           f"{len(emb_pairs)} embedding pairs, want the {len(emb['pairs'])} planted")


class BatchRefresh:
    """The reference's daily DAG: bronze JSON, 10 silver tables each
    committed once, the gold star schema, the flat view and its export.
    Every refresh overwrites the same tables, as a daily run does."""

    name = "batch_refresh"
    primary = "refresh"
    python_workers = False
    cold = True
    params = {"articles": 2000, "days": 60, "dup_share": 0.01, "blank_share": 0.01, "files": 4}

    def __init__(self, seed: int, work: str):
        self.seed, self.work = seed, work

    def generate(self) -> None:
        self.expected = gen.bronze_corpus(self.seed, f"{self.work}/bronze", **self.params)

    def refresh(self, spark, tr) -> dict:
        from news_lakehouse_spark.plans.flat_view import articles_flat_view
        from news_lakehouse_spark.plans.gold import write_gold_tables
        from news_lakehouse_spark.plans.silver import build_silver_tables
        from news_lakehouse_spark.sources.readers import read_bronze_batch
        from news_lakehouse_spark.sources.transaction import VersionedParquetTable
        from news_lakehouse_spark.sources.writers import serving_export

        root = self.work
        with tr.span("readers.read_bronze_batch"):
            # persisted across the 10 derivations, as the reference does
            raw = read_bronze_batch(spark, f"{root}/bronze").persist()
            raw.count()
        try:
            with tr.span("silver.build_silver_tables"):
                silver = build_silver_tables(raw)
            tables = {}
            for name, df in silver.items():
                tables[name] = VersionedParquetTable(spark, f"{root}/silver/{name}")
                with tr.span("transaction.write"):
                    tables[name].write(df)
            with tr.span("gold.write_gold_tables"):
                counts = write_gold_tables(spark, {k: t.read() for k, t in tables.items()},
                                           f"{root}/gold")
            with tr.span("flat_view.articles_flat_view"):
                flat = articles_flat_view(*(spark.read.parquet(f"{root}/gold/{t}") for t in (
                    "fact_article_publication", "dim_author", "dim_topic", "dim_sub_topic")))
            with tr.span("writers.serving_export"):
                serving_export(flat, f"{root}/export", partition_by=["PublicationDateKey"])
        finally:
            raw.unpersist()
        return counts

    def setup(self, spark, tr, rec) -> None:
        pass

    def step(self, spark, tr, rec) -> None:
        with rec.op("refresh"):
            check_refresh(self.expected, self.refresh(spark, tr))
        rec.add_items(self.params["articles"], rec.last)

    def finish(self, spark, tr, rec) -> dict:
        return {}


class IncrementalMixed:
    """Small bronze drops streamed into a date-partitioned versioned
    ``articles`` table with bloom filters on the key, each followed by a
    fixed mix of reads and a compaction. One op is one drop's cycle; a
    step is a cycle and the compaction, so every run has the same mix."""

    name = "incremental_mixed"
    primary = "cycle"
    python_workers = False
    cold = False
    params = {"initial": 1500, "days": 30, "drop_size": 100, "update_share": 0.3,
              "dup_share": 0.03, "recency": 0.004, "lookups": 2}
    KEY = "ArticleID"

    def __init__(self, seed: int, work: str):
        self.seed, self.work = seed, work
        self.table_path, self.drops = f"{work}/articles", f"{work}/drops"

    def generate(self) -> None:
        p = self.params
        self.stream = gen.DeltaStream(self.seed, p["initial"], p["days"], p["drop_size"],
                                      p["update_share"], p["dup_share"], p["recency"])
        gen.write_jsonl(f"{self.work}/initial/part-000.json", self.stream.initial)
        self.model = TableModel()
        self.rng = random.Random(self.seed + 1)
        self.drops_landed = 0
        self.kept = [0, 0]  # files kept by lookup scan planning, files in snapshot
        self.rewritten: list[int] = []

    @staticmethod
    def rows(raw):
        from news_lakehouse_spark.functions.keys import sha2_key
        from news_lakehouse_spark.plans.silver import normalize_bronze

        return normalize_bronze(raw, require_ts=True).select(
            sha2_key("url").alias("ArticleID"), F.trim("url").alias("URL"),
            F.col("title").alias("Title"), F.col("publish_ts").alias("PublicationDate"),
            F.coalesce(F.col("comment_count"), F.lit(0)).alias("OpinionCount"),
            "ingested_at", "date")

    def setup(self, spark, tr, rec) -> None:
        from news_lakehouse_spark.sources.readers import read_bronze_batch, read_bronze_stream
        from news_lakehouse_spark.sources.transaction import VersionedParquetTable
        from news_lakehouse_spark.streaming.ingest import run_stream_to_versioned_table

        self.table = VersionedParquetTable(spark, self.table_path)
        initial = self.rows(read_bronze_batch(spark, f"{self.work}/initial"))
        with tr.span("transaction.write"):
            # one file per date partition
            self.table.write(initial.repartition("date"), partition_by=["date"],
                             bloom_columns=[self.KEY])
        self.model.merge(self.stream.initial, self.stream.instants)
        os.makedirs(self.drops)
        self.query = run_stream_to_versioned_table(
            self.rows(read_bronze_stream(spark, self.drops)), self.table_path, [self.KEY],
            f"{self.work}/checkpoint", order_by=[F.col("ingested_at").desc()])
        with rec.op("warmup"):
            self.cycle(spark, tr, rec)
        self.compact(tr, rec)

    def cycle(self, spark, tr, rec) -> None:
        """Land one drop, wait for its commit, then read: key lookups
        (alternating hits and misses), a date-pruned scan, a time-travel
        scan and a change feed."""
        p, m = self.params, self.model
        drop = self.stream.next_drop()
        self.drops_landed += 1
        with rec.time("commit"):
            gen.write_jsonl(f"{self.drops}/d{self.drops_landed:05d}.json", drop)
            with tr.span("ingest.stream"):
                self.query.processAllAvailable()
        rec.add_items(m.merge(drop, self.stream.instants), rec.last)
        expect(self.table.latest_version() == m.version,
               f"table at v{self.table.latest_version()}, model at v{m.version}")

        valid = [r["url"] for r in drop if r["url"].strip()]
        for i in range(p["lookups"]):
            if i % 2 == 0:  # a key of this drop: recent, like the updates
                key = gen.article_id(self.rng.choice(valid))
            else:
                key = gen.article_id(f"https://vnexpress.example/missing/{self.rng.random()}")
            with rec.time("lookup"), tr.span("transaction.read.lookup"):
                got = (self.table.read(predicate=[(self.KEY, "=", key)])
                       .filter(F.col(self.KEY) == key).collect())
            check_lookup(m, key, [(r.ArticleID, r.URL, r.Title, r.OpinionCount,
                                   r.ingested_at, r.date) for r in got])
            if tr.enabled:  # scan-planning counter, outside the lookup's span
                self.kept[0] += len(plan_files(self.table, predicate=[(self.KEY, "=", key)]))
                self.kept[1] += len(plan_files(self.table))

        v = m.version
        days = sorted({r[5] for r in m.rows.values()})
        day = days[-1 - min(int(self.rng.expovariate(0.3)), len(days) - 1)]
        with rec.time("scan"), tr.span("transaction.read.scan"):
            n = observed_count(self.table.read(partition_filter={"date": str(day)}))[0]
        check_scan(m, v, day, n)
        old = max(1, v - 2)
        with rec.time("scan"), tr.span("transaction.read.scan"):
            n = observed_count(self.table.read(version=old, partition_filter={"date": str(day)}))[0]
        check_scan(m, old, day, n)
        a = max(1, v - 3)
        with rec.time("changes"), tr.span("transaction.changes"):
            ct = F.col("_change_type")
            n, ins, dels = observed_count(self.table.changes(a, v), ct == "insert", ct == "delete")
        check_changes(m, a, v, n, ins, dels)

    def compact(self, tr, rec) -> None:
        before = set(plan_files(self.table))
        with rec.op("compact"), tr.span("transaction.compact"):
            self.table.compact()
        rec.add_items(0, rec.last)
        self.model.compact()
        with rec.check():
            expect(self.table.latest_version() == self.model.version,
                   "compaction did not commit one version")
        added = set(plan_files(self.table)) - before
        self.rewritten.append(data_bytes(os.path.join(self.table_path, f) for f in added))

    def step(self, spark, tr, rec) -> None:
        with rec.op("cycle"):
            self.cycle(spark, tr, rec)
        self.compact(tr, rec)

    def finish(self, spark, tr, rec) -> dict:
        self.query.stop()
        with rec.check():
            n = self.table.read().count()
            expect(n == len(self.model.rows), f"final snapshot {n} rows, want {len(self.model.rows)}")
        live = data_bytes(os.path.join(self.table_path, f) for f in plan_files(self.table))
        written = data_bytes(glob.glob(f"{self.table_path}/data/**/*.parquet", recursive=True))
        return {
            "transaction.lookup_files_kept_ratio": self.kept[0] / self.kept[1] if self.kept[1] else 0,
            "transaction.compact_bytes_rewritten": (
                sum(self.rewritten) / len(self.rewritten) if self.rewritten else 0),
            "transaction.write_amp": written / live,
        }


def plan_files(table, **kw) -> list[str]:
    """``files_for`` without its span: the benchmark's own bookkeeping
    must not count as scan planning."""
    files_for = type(table).files_for
    return getattr(files_for, "__wrapped__", files_for)(table, **kw)


class CorpusDedup:
    """The data-prep path: quality metrics, MinHash LSH near-duplicate
    pairs, connected components down to one survivor per cluster, and
    embedding near-duplicates. One op is one pass over the corpus."""

    name = "corpus_dedup"
    primary = "dedup"
    python_workers = True
    cold = True
    params = {"docs": 2000, "words": 150, "cluster_share": 0.12, "chain_share": 0.5,
              "clique": 4, "chain": 8, "subs": 4, "vectors": 1500, "dim": 64,
              "pair_share": 0.05, "noise": 0.25, "threshold": 0.9}

    def __init__(self, seed: int, work: str):
        self.seed, self.work = seed, work

    def generate(self) -> None:
        p = self.params
        self.expected = (
            gen.documents(self.seed, self.work, p["docs"], p["words"], p["cluster_share"],
                          p["chain_share"], p["clique"], p["chain"], p["subs"]),
            gen.embeddings(self.seed, self.work, p["vectors"], p["dim"], p["pair_share"],
                           p["noise"], p["threshold"]),
        )

    def dedup(self, spark, tr, rec) -> None:
        from news_lakehouse_spark.operators.dedupe import dedup_survivors, minhash_near_duplicates
        from news_lakehouse_spark.operators.similarity import embedding_near_duplicates
        from news_lakehouse_spark.operators.textmetrics import quality_metrics
        from news_lakehouse_spark.sources.readers import read_table

        docs_want, emb_want = self.expected
        docs = read_table(spark, self.work, "documents")
        with rec.time("quality"), tr.span("textmetrics.quality_metrics"):
            n = observed_count(quality_metrics(docs, "doc_id", "text"))[0]
        with rec.time("minhash"), tr.span("dedupe.minhash_near_duplicates"):
            pairs = minhash_near_duplicates(docs, "doc_id", "text").persist()
            got_pairs = sorted((r.id_a, r.id_b) for r in pairs.collect())
        try:
            with rec.time("components"), tr.span("dedupe.dedup_survivors"):
                survivors = {r.doc_id for r in
                             dedup_survivors(docs, pairs, "doc_id").select("doc_id").collect()}
        finally:
            pairs.unpersist()
        emb = read_table(spark, self.work, "embeddings")
        with rec.time("embedding"), tr.span("similarity.embedding_near_duplicates"):
            got_emb = sorted((r.id_a, r.id_b) for r in embedding_near_duplicates(
                emb, "vec_id", "embedding", threshold=self.params["threshold"]).collect())
        check_dedup(docs_want, emb_want, n, got_pairs, survivors, got_emb)

    def setup(self, spark, tr, rec) -> None:
        pass

    def step(self, spark, tr, rec) -> None:
        with rec.op("dedup"):
            self.dedup(spark, tr, rec)
        rec.add_items(self.params["docs"], rec.last)

    def finish(self, spark, tr, rec) -> dict:
        return {}


WORKLOADS = {w.name: w for w in (BatchRefresh, IncrementalMixed, CorpusDedup)}
