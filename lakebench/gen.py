"""Seeded input generators. The same seed gives the same bytes.

Every generator draws from its own ``random.Random`` (or numpy
``default_rng``) built from the seed, never from global state, and
returns the facts its inputs imply (counts, planted clusters, planted
pairs) so the workloads can check the program's answers against them.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import json
import os
import random

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TOPICS = {
    "thoi-su": ["chinh-tri", "dan-sinh", "giao-thong"],
    "the-gioi": ["phan-tich", "tu-lieu", "quan-su"],
    "kinh-doanh": ["chung-khoan", "bat-dong-san", "vi-mo"],
    "the-thao": ["bong-da", "tennis", "marathon"],
    "giai-tri": ["phim", "nhac", "thoi-trang"],
    "khoa-hoc": ["vu-tru", "moi-truong"],
    "so-hoa": ["thiet-bi", "cong-nghe"],
    "suc-khoe": ["dinh-duong", "benh-vien"],
}
TOPIC_NAMES = sorted(TOPICS)
AUTHORS = [f"Author {i:03d}" for i in range(240)]
KEYWORDS = [f"kw{i:03d}" for i in range(400)]
REFERENCES = ["vne", "afp", "reuters", "ap", "bbc", "tuoitre", "thanhnien"]
WORDS = [f"w{i:05d}" for i in range(20000)]
VN_WEEKDAYS = ["Thứ hai", "Thứ ba", "Thứ tư", "Thứ năm", "Thứ sáu", "Thứ bảy", "Chủ nhật"]
#: the Jaccard threshold minhash_near_duplicates verifies pairs against
NEAR_DUP_JACCARD = 0.8
ICT = dt.timezone(dt.timedelta(hours=7))
EPOCH0 = 1_735_689_600  # 2025-01-01T00:00:00Z


def article_id(url: str) -> str:
    """The silver ArticleID of a url: sha2-256 hex of the trimmed url."""
    return hashlib.sha256(url.strip().encode()).hexdigest()


def serial_of(url: str) -> int:
    """The serial an article url was generated from (``.../a-<serial>.html``)."""
    return int(url.strip().rsplit("-", 1)[1][: -len(".html")])


def publish_string(rng: random.Random, instant: int) -> str:
    """Render a whole-minute UTC instant in one of the crawler's formats.
    Every format parses back to ``instant`` (offset-less ones read as UTC)."""
    kind = rng.randrange(5)
    if kind == 0:
        return dt.datetime.fromtimestamp(instant, ICT).isoformat()
    if kind == 1:
        t = dt.datetime.fromtimestamp(instant, ICT)
        return f"{VN_WEEKDAYS[t.weekday()]}, {t:%d/%m/%Y, %H:%M} (GMT+7)"
    if kind == 2:
        return str(instant)
    if kind == 3:
        return str(instant * 1000 + rng.randrange(1000))
    return f"{dt.datetime.fromtimestamp(instant, dt.timezone.utc):%d/%m/%Y %H:%M}"


def utc_date(instant: int) -> dt.date:
    return dt.datetime.fromtimestamp(instant, dt.timezone.utc).date()


def _words(rng: random.Random, lo: int, hi: int) -> str:
    return " ".join(rng.choices(WORDS, k=rng.randint(lo, hi)))


def article(rng: random.Random, serial: int, instant: int, crawl: int) -> dict:
    """One bronze article. ``crawl`` orders re-crawls of the same url
    (it becomes ``ingested_at``, so the latest crawl wins a merge)."""
    topic = TOPIC_NAMES[serial % len(TOPIC_NAMES)]  # a re-crawl keeps its url
    comments = []
    for c in range(rng.randint(0, 4)):
        details = {"like": str(rng.randint(0, 40)), "love": str(rng.randint(0, 9))}
        comments.append(
            {
                "commenter_name": rng.choice(AUTHORS).replace("Author", "reader"),
                "comment_content": f"{_words(rng, 3, 12)} #{serial}.{c}",
                "total_likes": rng.randint(0, 99),
                "interaction_details": json.dumps(details) if rng.random() > 0.05 else "not json",
            }
        )
    ingested = dt.datetime.fromtimestamp(EPOCH0 + 86400 * 400 + crawl, dt.timezone.utc)
    return {
        "title": f"Title {serial} {_words(rng, 2, 6)}",
        "url": f"https://vnexpress.example/{topic}/a-{serial}.html",
        "author": rng.choice(AUTHORS) if rng.random() > 0.05 else None,
        "topic": topic,
        "sub_topic": rng.choice(TOPICS[topic]) if rng.random() > 0.1 else None,
        "publish_date": publish_string(rng, instant),
        "description": _words(rng, 8, 20),
        "main_content": _words(rng, 60, 160),
        "keywords": rng.sample(KEYWORDS, k=rng.randint(0, 5)),
        "references": rng.sample(REFERENCES, k=rng.randint(0, 3)),
        "comment_count": rng.randint(0, 300),
        "top_comments": comments,
        "ingested_at": ingested.strftime("%Y-%m-%dT%H:%M:%S"),
        "year": 2025,
        "month": 1,
        "day": 1,
    }


def write_jsonl(path: str, records: list[dict]) -> None:
    """Write records as JSON lines, landing the file atomically so a
    directory-watching reader never sees a partial file."""
    os.makedirs(os.path.dirname(path), exist_ok=True)
    tmp = os.path.join(os.path.dirname(path), "." + os.path.basename(path) + ".tmp")
    with open(tmp, "w", encoding="utf-8") as f:
        for r in records:
            f.write(json.dumps(r, ensure_ascii=False, sort_keys=True) + "\n")
    os.rename(tmp, path)


def bronze_corpus(
    seed: int, out_dir: str, articles: int, days: int, dup_share: float,
    blank_share: float, files: int,
) -> dict:
    """A bronze JSON corpus for the full refresh: ~``dup_share`` exact
    re-crawls of earlier urls, ~``blank_share`` blank urls, and one
    publish instant in ``days`` days per article. Returns the row count
    of each gold table the silver gate and the generated values imply."""
    rng = random.Random(seed)
    records: list[dict] = []
    instants: dict[str, int] = {}
    for i in range(articles):
        if records and rng.random() < dup_share:
            records.append(dict(rng.choice(records)))
            continue
        instant = EPOCH0 + 60 * rng.randrange(days * 1440)
        rec = article(rng, i, instant, i)
        instants[rec["url"]] = instant
        if rng.random() < blank_share:
            rec["url"] = rng.choice(["", "   ", None])
        records.append(rec)
    per_file = -(-len(records) // files)
    for k in range(files):
        write_jsonl(f"{out_dir}/part-{k:03d}.json", records[k * per_file:(k + 1) * per_file])
    valid = {r["url"]: r for r in records if r["url"] and r["url"].strip()}
    return {
        "fact_article_publication": len(valid),
        "fact_article_keyword": sum(len(set(r["keywords"])) for r in valid.values()),
        "fact_article_reference": sum(len(set(r["references"])) for r in valid.values()),
        "fact_top_comment_activity": sum(len(r["top_comments"]) for r in valid.values()),
        "dim_date": len({utc_date(instants[u]) for u in valid}),
        "dim_topic": len({r["topic"] for r in valid.values()}),
        "dim_keyword": len({k for r in valid.values() for k in r["keywords"]}),
        "dim_reference_source": len({k for r in valid.values() for k in r["references"]}),
        "dim_author": len({r["author"] for r in valid.values() if r["author"]}),
    }


class DeltaStream:
    """The initial ``articles`` snapshot and the stream of small drops.

    Each drop holds fresh articles published on the drop's day (a new
    day every 4 drops), ``update_share`` re-crawls of earlier urls (their
    publish instant kept, their title and comment count changed) chosen
    with a bias to recent publish dates, ``dup_share`` same-drop
    duplicate keys (a second, later crawl of a url already in the drop)
    and one blank url the silver gate drops."""

    def __init__(self, seed: int, initial: int, days: int, drop_size: int,
                 update_share: float, dup_share: float, recency: float):
        self.rng = random.Random(seed)
        self.days, self.drop_size = days, drop_size
        self.update_share, self.dup_share, self.recency = update_share, dup_share, recency
        self.serial = 0
        self.crawl = 0
        self.instants: dict[int, int] = {}  # serial -> publish instant
        self.valid: list[int] = []  # serials with a valid url, oldest first
        # oldest first, so the newest serials are the latest published
        start_days = sorted(self.rng.randrange(days) for _ in range(initial))
        self.initial = [self._fresh(day) for day in start_days]
        self.drops_made = 0

    def _fresh(self, day: int) -> dict:
        self.serial += 1
        self.crawl += 1
        instant = EPOCH0 + 86400 * day + 60 * self.rng.randrange(1440)
        self.instants[self.serial] = instant
        self.valid.append(self.serial)
        return article(self.rng, self.serial, instant, self.crawl)

    def _recrawl(self, serial: int) -> dict:
        self.crawl += 1
        return article(self.rng, serial, self.instants[serial], self.crawl)

    def _pick_recent(self) -> int:
        # serials are in publish order, so a geometric rank from the
        # newest favours recent dates
        rank = min(int(self.rng.expovariate(self.recency)), len(self.valid) - 1)
        return self.valid[-1 - rank]

    def next_drop(self) -> list[dict]:
        day = self.days + self.drops_made // 4
        self.drops_made += 1
        n_upd = round(self.drop_size * self.update_share)
        n_dup = round(self.drop_size * self.dup_share)
        recs = [self._recrawl(self._pick_recent()) for _ in range(n_upd)]
        recs += [self._fresh(day) for _ in range(self.drop_size - n_upd - n_dup)]
        recs += [self._recrawl(serial_of(r["url"])) for r in self.rng.sample(recs, n_dup)]
        blank = self._fresh(day)
        blank["url"] = "  "
        self.valid.pop()
        recs.append(blank)
        self.rng.shuffle(recs)
        return recs


def documents(seed: int, out_dir: str, docs: int, words: int, cluster_share: float,
              chain_share: float, clique: int, chain: int, subs: int) -> dict:
    """A document corpus with planted near-duplicate clusters.

    Base documents are ``words`` distinct random words, so two unrelated
    documents share no word 3-gram. A clique is a base plus variants that
    each substitute ``subs`` words of it; a chain substitutes ``subs``
    more words at every step, so each document is a near-duplicate of
    its neighbours only. Substituted positions are 3 apart and never
    reused within a cluster, which makes every Jaccard exact:
    (S - 3*subs*k) / (S + 3*subs*k) for k steps apart, S = words - 2;
    one step must land above ``NEAR_DUP_JACCARD`` and two below it."""
    s = words - 2

    def jaccard(steps: int) -> float:
        return (s - 3 * subs * steps) / (s + 3 * subs * steps)

    if not jaccard(2) < NEAR_DUP_JACCARD - 0.02 < NEAR_DUP_JACCARD + 0.02 < jaccard(1):
        raise ValueError(f"{words} words with {subs} substitutions do not separate "
                         f"neighbours ({jaccard(1):.3f}) from the next ({jaccard(2):.3f})")
    rng = random.Random(seed)
    # a word at position p feeds the 3-grams starting at p-2..p: slots
    # 3 apart away from both ends change exactly 3 disjoint 3-grams each
    slots = list(range(3, words - 2, 3))
    if (max(clique, chain) - 1) * subs > len(slots):
        raise ValueError("cluster too large for the substitution slots")
    fresh = iter(f"x{i:07d}" for i in range(10**7))
    texts: list[list[str]] = []
    clusters: list[list[int]] = []  # indexes into texts
    pairs: list[tuple[int, int]] = []
    in_clusters = round(docs * cluster_share)
    chained = round(in_clusters * chain_share)
    while sum(map(len, clusters)) < in_clusters:
        is_chain = sum(map(len, clusters)) < chained
        size = chain if is_chain else clique
        base = rng.sample(WORDS, words)
        free = rng.sample(slots, len(slots))
        first = len(texts)
        texts.append(base)
        for k in range(1, size):
            prev = texts[-1] if is_chain else base
            doc = list(prev)
            for pos in free[(k - 1) * subs:k * subs]:
                doc[pos] = next(fresh)
            texts.append(doc)
            pairs.append((len(texts) - 2 if is_chain else first, len(texts) - 1))
        clusters.append(list(range(first, len(texts))))
    while len(texts) < docs:
        texts.append(rng.sample(WORDS, words))
    ids = rng.sample(range(1, 50 * docs), len(texts))
    table = pa.table({
        "doc_id": pa.array(ids, pa.int64()),
        "text": [" ".join(t) for t in texts],
        "source": [f"src{i % 7}" for i in range(len(texts))],
    })
    os.makedirs(out_dir, exist_ok=True)
    pq.write_table(table, f"{out_dir}/documents.parquet")
    id_clusters = [sorted(ids[i] for i in c) for c in clusters]
    return {
        "docs": len(texts),
        "clusters": id_clusters,
        "pairs": sorted(tuple(sorted((ids[a], ids[b]))) for a, b in pairs),
        "survivors": len(texts) - sum(len(c) - 1 for c in clusters),
    }


def embeddings(seed: int, out_dir: str, vectors: int, dim: int, pair_share: float,
               noise: float, threshold: float) -> dict:
    """Random unit vectors with planted near-duplicate pairs (a vector
    plus small noise). The planted pairs are the exact set at or above
    ``threshold``; a draw that breaks this raises rather than passing."""
    rng = np.random.default_rng(seed)
    x = rng.standard_normal((vectors, dim))
    n_pairs = round(vectors * pair_share / 2)
    src = rng.choice(vectors, size=2 * n_pairs, replace=False)
    for a, b in zip(src[:n_pairs], src[n_pairs:]):
        x[b] = x[a] + noise * np.linalg.norm(x[a]) / np.sqrt(dim) * rng.standard_normal(dim)
    x = x.astype(np.float32)
    ids = rng.permutation(np.arange(1, 20 * vectors))[:vectors].astype(np.int64)
    xn = x.astype(np.float64)
    xn /= np.linalg.norm(xn, axis=1, keepdims=True)
    sims = xn @ xn.T
    ia, ib = np.nonzero(np.triu(sims >= threshold, k=1))
    found = sorted(tuple(sorted((int(ids[a]), int(ids[b])))) for a, b in zip(ia, ib))
    planted = sorted(tuple(sorted((int(ids[a]), int(ids[b]))))
                     for a, b in zip(src[:n_pairs], src[n_pairs:]))
    if found != planted:
        raise ValueError("embedding draw has unplanted pairs above the threshold")
    table = pa.table({
        "vec_id": pa.array(ids, pa.int64()),
        "embedding": pa.array(list(x), pa.list_(pa.float32())),
    })
    os.makedirs(out_dir, exist_ok=True)
    pq.write_table(table, f"{out_dir}/embeddings.parquet")
    return {"vectors": vectors, "pairs": planted}
