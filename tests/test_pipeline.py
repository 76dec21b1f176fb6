"""End-to-end bronze→silver→gold pipeline tests on synthetic news
fixtures (schema mirrors FIXTURES.md §B / reference spark_jobs/schema.py)."""

from __future__ import annotations

import json
import random

import pytest
from pyspark.testing import assertDataFrameEqual

from news_lakehouse_spark.plans.gold import (
    build_gold_dimensions,
    build_gold_facts,
    unknown_dimension_rows,
)
from news_lakehouse_spark.plans.flat_view import articles_flat_view
from news_lakehouse_spark.plans.silver import build_silver_tables
from news_lakehouse_spark.schemas import NEWS_SCHEMA

TOPICS = ["thoi-su", "the-gioi", "kinh-doanh", None, "  "]
DATES = [
    "2024-01-02T03:04:05+07:00",
    "Thứ sáu, 10/10/2025, 14:27 (GMT+7)",
    "1700000000",
    "1700000000123",
    "02/03/2024 10:11",
    "garbage",
]


def make_raw_rows(n=200, seed=7):
    rng = random.Random(seed)
    rows = []
    for i in range(n):
        url = None if i % 50 == 3 else f"https://news.example/{i % 180}"
        rows.append(
            {
                "title": f"Title {i}" if i % 20 else "",
                "url": url,
                "author": rng.choice(["  An ", "Binh", "Chi", None]),
                "topic": rng.choice(TOPICS),
                "sub_topic": rng.choice(["chinh-tri", "bong-da", None]),
                "publish_date": rng.choice(DATES),
                "description": f"desc {i}",
                "main_content": ("word " * rng.randint(0, 300)).strip(),
                "keywords": rng.sample(["ai", "vn", "tech", "", "econ"], k=rng.randint(0, 4)),
                "references": rng.sample(["vne", "afp", "reuters"], k=rng.randint(0, 2)),
                "comment_count": rng.randint(0, 50),
                "top_comments": [
                    {
                        "commenter_name": f"user{c}",
                        "comment_content": f"comment {c} on {i}",
                        "total_likes": rng.randint(0, 99),
                        "interaction_details": json.dumps(
                            {"like": str(rng.randint(0, 20)), "love": "x" if c % 7 == 0 else "2"}
                        )
                        if c % 5
                        else "not json",
                    }
                    for c in range(rng.randint(0, 4))
                ],
                "ingested_at": "2025-01-01T00:00:00",
                "year": 2025,
                "month": 1,
                "day": 1,
            }
        )
    return rows


@pytest.fixture(scope="module")
def silver(spark):
    raw = spark.createDataFrame(make_raw_rows(), NEWS_SCHEMA)
    tables = build_silver_tables(raw)
    for df in tables.values():
        df.persist()
    yield tables
    for df in tables.values():
        df.unpersist()


def test_silver_row_gate(spark, silver):
    # blank-url rows are dropped; article ids unique
    arts = silver["articles"]
    assert arts.count() == arts.select("ArticleID").distinct().count()
    assert arts.filter(arts.URL.isNull()).count() == 0


def test_silver_keys_unique(silver):
    for name, keys in {
        "authors": ["AuthorID"],
        "topics": ["TopicID"],
        "subtopics": ["SubTopicID"],
        "keywords": ["KeywordID"],
        "references_table": ["ReferenceID"],
        "comments": ["CommentID"],
        "comment_interactions": ["CommentInteractionID"],
        "article_keywords": ["ArticleID", "KeywordID"],
        "article_references": ["ArticleID", "ReferenceID"],
    }.items():
        df = silver[name]
        assert df.count() == df.select(*keys).distinct().count(), name


def test_comment_interactions_parse(silver):
    import hashlib

    ci = silver["comment_interactions"]
    rows = ci.collect()
    assert rows, "no interactions parsed"
    # non-numeric values coalesce to 0
    assert all(r["InteractionCount"] >= 0 for r in rows)
    # reference ID parity (b2s:381): sha2(CommentID || '||' || raw key)
    for r in rows[:20]:
        expect = hashlib.sha256(
            f"{r['CommentID']}||{r['InteractionType']}".encode()
        ).hexdigest()
        assert r["CommentInteractionID"] == expect


def test_gold_star_schema(spark, silver):
    dims = build_gold_dimensions(silver)
    facts = build_gold_facts(silver)
    dims = unknown_dimension_rows(spark, dims)
    # every dim has the -1 member (except dim_date)
    for name, df in dims.items():
        if name == "dim_date":
            continue
        key_col = df.columns[0]
        assert df.filter(df[key_col] == -1).count() == 1, name
    # FK integrity: every fact AuthorKey exists in dim_author
    fap = facts["fact_article_publication"]
    missing = (
        fap.join(
            dims["dim_author"].select("AuthorKey"), "AuthorKey", "left_anti"
        ).count()
    )
    assert missing == 0
    # flat view row count == fact row count (left joins preserve grain)
    flat = articles_flat_view(
        fap, dims["dim_author"], dims["dim_topic"], dims["dim_sub_topic"]
    )
    assert flat.count() == fap.count()


def test_gold_date_key_shape(silver):
    dd = build_gold_dimensions(silver)["dim_date"]
    rows = dd.collect()
    for r in rows:
        d = r["FullDateAlternateKey"]
        assert r["DateKey"] == d.year * 10000 + d.month * 100 + d.day


def test_subtopic_id_null_skip_parity(spark):
    """SubTopicID follows the reference's concat_ws null-skip
    (b2s:300-301): null/blank sub_topic -> sha2(TopicID); null topic
    too -> sha2('')."""
    import hashlib

    rows = [
        {"url": "https://x/1", "topic": "thoi-su", "sub_topic": "chinh-tri"},
        {"url": "https://x/2", "topic": "thoi-su", "sub_topic": None},
        {"url": "https://x/3", "topic": "thoi-su", "sub_topic": "   "},
        {"url": "https://x/4", "topic": None, "sub_topic": None},
    ]
    raw = spark.createDataFrame(
        [tuple(r.get(f.name) for f in NEWS_SCHEMA.fields) for r in rows],
        NEWS_SCHEMA,
    )
    arts = build_silver_tables(raw)["articles"]
    got = {r["URL"]: r["SubTopicID"] for r in arts.collect()}
    topic_id = hashlib.sha256("thoi-su".encode()).hexdigest()
    assert got["https://x/1"] == hashlib.sha256(
        f"chinh-tri||{topic_id}".encode()
    ).hexdigest()
    assert got["https://x/2"] == hashlib.sha256(topic_id.encode()).hexdigest()
    assert got["https://x/3"] == got["https://x/2"]  # blank == null
    assert got["https://x/4"] == hashlib.sha256(b"").hexdigest()


def test_gold_pipelines_emit_metrics(spark, silver, tmp_path):
    """Both materializing gold pipelines (batch full rebuild and
    incremental refresh) must emit one duration/rows/status record per
    table plus a whole-job record, like the reference's per-ETL
    metrics wrapper."""
    from news_lakehouse_spark.metrics import METRICS
    from news_lakehouse_spark.plans.gold import (
        GOLD_DIMS,
        GOLD_FACTS,
        write_gold_tables,
    )
    from news_lakehouse_spark.plans.incremental import refresh_gold_incremental

    start = len(METRICS)
    written = write_gold_tables(spark, silver, str(tmp_path / "gold_batch"))
    batch = {m.job_name: m for m in METRICS[start:]}
    for name in (*GOLD_DIMS, *GOLD_FACTS):
        m = batch[f"gold_{name}"]
        assert m.success and m.records == written[name] and m.duration_s >= 0
        assert m.labels == {"table": name}
    whole = batch["write_gold_tables"]
    assert whole.success and whole.records == sum(written.values())
    # the count observed during the write is the row count on disk, and
    # the files hold exactly the rows the build plans produce
    expected = {**build_gold_dimensions(silver), **build_gold_facts(silver)}
    for name, df in expected.items():
        on_disk = spark.read.parquet(str(tmp_path / "gold_batch" / name))
        assert written[name] == on_disk.count(), name
        assertDataFrameEqual(on_disk, df.collect(), checkRowOrder=False)

    start = len(METRICS)
    written2 = refresh_gold_incremental(spark, silver, str(tmp_path / "gold_inc"))
    inc = {m.job_name: m for m in METRICS[start:]}
    for name in (*GOLD_DIMS, *GOLD_FACTS):
        assert inc[f"gold_{name}"].records == written2[name]
    assert inc["refresh_gold_incremental"].records == sum(written2.values())


def test_gold_write_failure_attempts_every_table(spark, silver, tmp_path, monkeypatch):
    """One gold table failing at run time must not stop the others: all
    12 writes are attempted and recorded, the failure is re-raised, and
    the call returns (no writer thread or Observation left waiting)."""
    import threading

    from pyspark.errors import PySparkException
    from pyspark.sql import functions as F
    from py4j.protocol import Py4JJavaError

    from news_lakehouse_spark.metrics import METRICS
    from news_lakehouse_spark.plans import gold

    def failing_dims(silver):
        dims = build_gold_dimensions(silver)
        dims["dim_topic"] = dims["dim_topic"].withColumn(
            "boom", F.raise_error(F.lit("injected gold failure")).cast("string")
        )
        return dims

    monkeypatch.setattr(gold, "build_gold_dimensions", failing_dims)
    root = tmp_path / "gold_fail"
    outcome = {}

    def call():
        start = len(METRICS)
        try:
            gold.write_gold_tables(spark, silver, str(root))
        except (PySparkException, Py4JJavaError) as e:
            outcome["error"] = e
        outcome["records"] = {m.job_name: m for m in METRICS[start:]}

    t = threading.Thread(target=call, daemon=True)
    t.start()
    t.join(timeout=300)
    assert not t.is_alive(), "write_gold_tables did not return"
    assert "injected gold failure" in str(outcome.get("error"))
    records = outcome["records"]
    assert not records["gold_dim_topic"].success
    assert not records["write_gold_tables"].success
    for name in (*gold.GOLD_DIMS, *gold.GOLD_FACTS):
        if name == "dim_topic":
            continue
        m = records[f"gold_{name}"]
        assert m.success, name
        assert m.records == spark.read.parquet(str(root / name)).count(), name


def test_gold_writes_inherit_caller_job_group(spark, silver, tmp_path):
    """Every Spark job of the concurrent gold writes runs in the
    caller's job group, so cancelling that group reaches all of them."""
    from news_lakehouse_spark.plans.gold import write_gold_tables

    sc = spark.sparkContext
    tracker = sc.statusTracker()
    ungrouped_before = set(tracker.getJobIdsForGroup(None))
    sc.setJobGroup("gold-test", "concurrent gold writes")
    try:
        write_gold_tables(spark, silver, str(tmp_path / "gold_group"))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
        sc.setLocalProperty("spark.job.interruptOnCancel", None)
    in_group = tracker.getJobIdsForGroup("gold-test")
    assert len(in_group) >= 12  # at least one write job per table
    assert set(tracker.getJobIdsForGroup(None)) - ungrouped_before == set()
