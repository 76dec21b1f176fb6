"""A Python model of the versioned ``articles`` table, kept beside the
real one so that every read the incremental workload makes has a known
right answer."""

from __future__ import annotations

from collections import Counter

import gen

#: columns the benchmark projects bronze articles onto; a row's identity
Row = tuple  # (ArticleID, URL, Title, OpinionCount, ingested_at, date)


def to_row(rec: dict, instants: dict[int, int]) -> Row | None:
    """The table row a bronze record becomes, or None when the silver
    gate drops it (every generated publish time parses, so only a blank
    url can fail the gate)."""
    url = (rec["url"] or "").strip()
    if not url:
        return None
    title = (rec["title"] or "").strip() or None
    return (gen.article_id(url), url, title, rec["comment_count"] or 0,
            rec["ingested_at"], gen.utc_date(instants[gen.serial_of(url)]))


class TableModel:
    def __init__(self) -> None:
        self.rows: dict[str, Row] = {}
        self.snapshots: dict[int, dict[str, Row]] = {}
        self.version = 0

    def _publish(self) -> None:
        self.version += 1
        self.snapshots[self.version] = dict(self.rows)

    def merge(self, records: list[dict], instants: dict[int, int]) -> int:
        """Upsert one drop; within it the latest crawl of a key wins.
        Returns the rows the gate let through."""
        passed = 0
        latest: dict[str, Row] = {}
        for rec in records:
            row = to_row(rec, instants)
            if row is None:
                continue
            passed += 1
            cur = latest.get(row[0])
            if cur is None or row[4] > cur[4]:
                latest[row[0]] = row
        self.rows.update(latest)
        self._publish()
        return passed

    def compact(self) -> None:
        self._publish()

    def date_count(self, version: int, day) -> int:
        return sum(1 for r in self.snapshots[version].values() if r[5] == day)

    def changes(self, a: int, b: int) -> Counter:
        """Rows a change feed from ``a`` to ``b`` holds, by change type;
        an update is one delete of the old image and one insert."""
        old, new = self.snapshots[a], self.snapshots[b]
        out: Counter = Counter()
        for k in old.keys() | new.keys():
            if old.get(k) != new.get(k):
                out["delete"] += k in old
                out["insert"] += k in new
        return out

