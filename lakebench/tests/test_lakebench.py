"""The benchmark's own tests; no Spark needed.

    python3 -m pytest lakebench/tests -q -p no:cacheprovider
"""

from __future__ import annotations

import filecmp
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import gen  # noqa: E402
import spans  # noqa: E402
import stats  # noqa: E402
import workloads  # noqa: E402
from model import TableModel  # noqa: E402
from workloads import WrongAnswer  # noqa: E402


def same_tree(a: str, b: str) -> bool:
    names = sorted(os.listdir(a))
    if names != sorted(os.listdir(b)):
        return False
    return filecmp.cmpfiles(a, b, names, shallow=False)[0] == names


# --- generators ---------------------------------------------------------------

def test_bronze_corpus_is_a_function_of_the_seed(tmp_path):
    args = dict(articles=400, days=10, dup_share=0.05, blank_share=0.05, files=3)
    e1 = gen.bronze_corpus(7, str(tmp_path / "a"), **args)
    e2 = gen.bronze_corpus(7, str(tmp_path / "b"), **args)
    gen.bronze_corpus(8, str(tmp_path / "c"), **args)
    assert e1 == e2
    assert same_tree(tmp_path / "a", tmp_path / "b")
    assert not same_tree(tmp_path / "a", tmp_path / "c")
    assert 300 < e1["fact_article_publication"] < 400  # duplicates and blank urls gated


def test_delta_stream_is_a_function_of_the_seed():
    def draw(seed):
        ds = gen.DeltaStream(seed, 300, 10, 50, 0.3, 0.04, 0.01)
        return ds.initial, [ds.next_drop() for _ in range(3)]

    assert draw(3) == draw(3)
    assert draw(3) != draw(4)


def test_delta_drops_carry_updates_and_same_drop_duplicates():
    ds = gen.DeltaStream(5, 300, 10, 100, 0.3, 0.05, 0.01)
    seen = {r["url"] for r in ds.initial}
    drop = ds.next_drop()
    urls = [r["url"] for r in drop if r["url"].strip()]
    assert sum(u in seen for u in urls) >= 30  # the update share
    assert len(urls) - len(set(urls)) >= 1  # duplicate keys inside the drop
    assert any(not r["url"].strip() for r in drop)  # a blank url the gate drops


def test_documents_and_embeddings_are_functions_of_the_seed(tmp_path):
    args = (300, 80, 0.2, 0.5, 3, 5, 2)
    d1 = gen.documents(11, str(tmp_path / "a"), *args)
    d2 = gen.documents(11, str(tmp_path / "b"), *args)
    e1 = gen.embeddings(11, str(tmp_path / "a"), 200, 64, 0.1, 0.25, 0.9)
    e2 = gen.embeddings(11, str(tmp_path / "b"), 200, 64, 0.1, 0.25, 0.9)
    assert d1 == d2 and e1 == e2
    assert same_tree(tmp_path / "a", tmp_path / "b")


def test_planted_clusters_have_the_stated_jaccard(tmp_path):
    import pyarrow.parquet as pq

    words, subs = 80, 2
    d = gen.documents(2, str(tmp_path), 300, words, 0.2, 0.5, 3, 5, subs)
    table = pq.read_table(tmp_path / "documents.parquet").to_pydict()
    text = dict(zip(table["doc_id"], table["text"]))

    def jaccard(a, b):
        sa, sb = (set(zip(w, w[1:], w[2:])) for w in (text[a].split(), text[b].split()))
        return len(sa & sb) / len(sa | sb)

    s, step = words - 2, 3 * subs
    for a, b in d["pairs"]:
        assert jaccard(a, b) == pytest.approx((s - step) / (s + step))
    chains = [c for c in d["clusters"] if len(c) == 5]
    assert chains, "a chain cluster is planted"
    paired = set(d["pairs"])
    for c in d["clusters"]:
        for i, a in enumerate(c):
            for b in c[i + 1:]:
                assert (jaccard(a, b) >= 0.8) == ((a, b) in paired)
    assert d["survivors"] == 300 - sum(len(c) - 1 for c in d["clusters"])
    with pytest.raises(ValueError):  # neighbours would fall below the threshold
        gen.documents(2, str(tmp_path), 300, words, 0.2, 0.5, 3, 5, 4)


# --- checks trip on wrong answers ---------------------------------------------

def test_batch_refresh_check_trips_on_wrong_gold_counts():
    want = {"fact_article_publication": 10, "dim_topic": 3}
    workloads.check_refresh(want, {**want, "dim_date": 4})
    with pytest.raises(WrongAnswer):
        workloads.check_refresh(want, {**want, "fact_article_publication": 11})
    with pytest.raises(WrongAnswer):
        workloads.check_refresh(want, {"fact_article_publication": 10})


def model_with_history():
    ds = gen.DeltaStream(9, 200, 5, 40, 0.5, 0.1, 0.05)
    m = TableModel()
    m.merge(ds.initial, ds.instants)
    drops = [ds.next_drop() for _ in range(3)]
    for drop in drops:
        m.merge(drop, ds.instants)
    return m, drops


def test_incremental_checks_trip_on_wrong_answers():
    m, drops = model_with_history()
    key = gen.article_id(next(r["url"] for r in drops[-1] if r["url"].strip()))
    row = m.rows[key]
    workloads.check_lookup(m, key, [row])
    workloads.check_lookup(m, "0" * 64, [])
    with pytest.raises(WrongAnswer):
        workloads.check_lookup(m, key, [])
    with pytest.raises(WrongAnswer):  # a stale image of the row
        workloads.check_lookup(m, key, [row[:3] + (row[3] + 1,) + row[4:]])
    with pytest.raises(WrongAnswer):
        workloads.check_lookup(m, "0" * 64, [row])
    day = row[5]
    workloads.check_scan(m, m.version, day, m.date_count(m.version, day))
    with pytest.raises(WrongAnswer):
        workloads.check_scan(m, m.version, day, m.date_count(m.version, day) + 1)
    ch = m.changes(1, m.version)
    workloads.check_changes(m, 1, m.version, ch["insert"] + ch["delete"], ch["insert"], ch["delete"])
    with pytest.raises(WrongAnswer):
        workloads.check_changes(m, 1, m.version, ch["insert"] + ch["delete"] + 1,
                                ch["insert"] + 1, ch["delete"])


def test_model_keeps_the_latest_crawl_and_counts_updates_as_delete_plus_insert():
    m, drops = model_with_history()
    latest = {}
    for drop in drops:
        for r in drop:
            if r["url"].strip() and r["ingested_at"] > latest.get(r["url"], ("", ""))[0]:
                latest[r["url"]] = (r["ingested_at"], r["title"])
    for url, (ingested, title) in latest.items():
        assert m.rows[gen.article_id(url)][2:5:2] == (title, ingested)
    before, after = m.snapshots[m.version - 1], m.snapshots[m.version]
    updated = sum(k in before and before[k] != v for k, v in after.items())
    fresh = sum(k not in before for k in after)
    assert m.changes(m.version - 1, m.version) == {"delete": updated, "insert": updated + fresh}


def test_dedup_check_trips_on_merged_or_missed_clusters():
    docs = {"docs": 6, "pairs": [(1, 2), (2, 3)], "clusters": [[1, 2, 3]], "survivors": 4}
    emb = {"pairs": [(7, 9)]}
    workloads.check_dedup(docs, emb, 6, [(1, 2), (2, 3)], {1, 4, 5, 6}, [(7, 9)])
    wrong = [
        (5, [(1, 2), (2, 3)], {1, 4, 5, 6}, [(7, 9)]),  # a doc without metrics
        (6, [(1, 2)], {1, 3, 4, 5, 6}, [(7, 9)]),  # a chain link missed
        (6, [(1, 2), (2, 3), (3, 4)], {1, 5, 6}, [(7, 9)]),  # two clusters merged
        (6, [(1, 2), (2, 3)], {2, 4, 5, 6}, [(7, 9)]),  # wrong survivor
        (6, [(1, 2), (2, 3)], {1, 4, 5, 6}, []),  # embedding pair missed
    ]
    for n, pairs, survivors, emb_pairs in wrong:
        with pytest.raises(WrongAnswer):
            workloads.check_dedup(docs, emb, n, pairs, survivors, emb_pairs)


# --- spans --------------------------------------------------------------------

def nested_spans():
    """op 1: root [0, 10] with children a [1, 4] (child c [2, 3]) and
    b [5, 9]; op 2: a lone root [20, 22]."""
    s = [spans.Span("root", 0, None, 1, "timed", end=10),
         spans.Span("a", 1, 0, 1, "timed", end=4),
         spans.Span("c", 2, 1, 1, "timed", end=3),
         spans.Span("b", 5, 0, 1, "timed", end=9),
         spans.Span("lone", 20, None, 2, "timed", end=22)]
    s[0].children, s[1].children = [1, 3], [2]
    return s


def test_self_time_subtracts_children():
    s = nested_spans()
    assert spans.self_intervals(s, 0) == [(0, 1), (4, 5), (9, 10)]
    assert spans.self_intervals(s, 1) == [(1, 2), (3, 4)]
    assert spans.self_intervals(s, 2) == [(2, 3)]
    costs, stray = spans.span_costs(s, {}, {})
    assert [c.self_s for c in costs] == [3, 2, 1, 4, 2]
    assert stray == 0
    assert spans.op_accounting(s, costs) == 0


def test_jobs_go_to_the_innermost_open_span():
    s = nested_spans()
    jobs = {
        "in_c": spans.Job(2.2, 2.8, ["s1"]),
        "in_a": spans.Job(1.0, 1.5, ["s2"]),
        "a_overlapping": spans.Job(1.2, 1.9, []),  # overlaps in_a: counted once
        "in_root_gap": spans.Job(4.5, 4.9, []),
        "after_all": spans.Job(30, 31, []),
    }
    costs, stray = spans.span_costs(s, jobs, {"s1": 100, "s2": 5})
    assert stray == 1
    assert (costs[2].jobs, costs[2].shuffle_bytes) == (1, 100)
    assert costs[2].job_s == pytest.approx(0.6)
    assert costs[1].jobs == 2 and costs[1].job_s == pytest.approx(0.9)
    assert costs[0].jobs == 1 and costs[0].job_s == pytest.approx(0.4)
    metrics = spans.layer_metrics(s, costs)
    assert metrics == {k: 0 for k in metrics}  # none of these names is a layer


def test_tracer_nests_spans_and_shares_the_op_id():
    tr = spans.Tracer(True, os.getpid())
    tr.phase = "timed"
    with tr.span("op.x"):
        with tr.span("transaction.merge"):
            pass
    with tr.span("op.y"):
        pass
    assert [(sp.name, sp.parent, sp.op) for sp in tr.spans] == [
        ("op.x", None, 1), ("transaction.merge", 0, 1), ("op.y", None, 2)]
    costs, _ = spans.span_costs(tr.spans, {}, {})
    assert spans.layer_metrics(tr.spans, costs)["transaction.merge.calls"] == 1
    assert spans.op_accounting(tr.spans, costs) < 1e-9


def test_disabled_tracer_records_nothing():
    tr = spans.Tracer(False, os.getpid())
    with tr.span("op.x"):
        pass
    assert tr.spans == []


# --- percentiles --------------------------------------------------------------

def test_tail_percentile_needs_ten_samples_beyond_it():
    with pytest.raises(ValueError):
        stats.tail_percentile(list(range(99)), 90)
    assert stats.tail_percentile(list(range(1, 101)), 90) == 90
    with pytest.raises(ValueError):
        stats.tail_percentile(list(range(999)), 99)
    assert stats.highest_tail(list(range(5))) is None
    assert stats.highest_tail(list(range(1, 1001))) == (99.0, 990)
