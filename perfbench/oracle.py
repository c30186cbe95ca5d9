"""Reference answers for the read surface, computed outside Spark.

Store reads are answered by DuckDB over the store's parquet files; the
search reads are answered in Python over the persisted search docs
(read once through DuckDB). Results are compared as a row count plus an
order-insensitive checksum.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import math
import re
from decimal import ROUND_HALF_UP, Decimal

import duckdb

GRAPH_COLS = ["subject", "predicate", "object"]
READ_COLS = {
    "lookup": ["db_identifier", "name", "license", "description"],
    "search_prefix": ["db_identifier", "name", "license", "description", "score"],
    "search_bm25": ["db_identifier", "score", "rank"],
    "history": [
        "subject", "predicate", "object", "use_start", "use_end", "deprecated",
        "extraction_method", "extraction_confidence",
    ],
    "search_with_history": [
        "db_identifier", "score", "rank", "predicate", "object", "use_start",
        "use_end", "deprecated",
    ],
    "current_graph": GRAPH_COLS,
    "graph_at": GRAPH_COLS,
    "changes_between": GRAPH_COLS + ["change"],
}


def _canon(v) -> str:
    if v is None:
        return "\\N"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, float):
        return f"{v:.4f}"
    if isinstance(v, dt.datetime):
        return v.isoformat(sep=" ")
    return str(v)


def row_hash(values) -> int:
    """44 bits of md5 over the '|'-joined row, the same value the Spark
    side computes in-plan for graph reads."""
    return int(hashlib.md5("|".join(map(_canon, values)).encode()).hexdigest()[:11], 16)


def digest(rows) -> tuple[int, int]:
    n = s = 0
    for r in rows:
        n += 1
        s += row_hash(r)
    return n, s


def round6(x: float) -> float:
    """Spark's ``round(x, 6)`` on a double: HALF_UP on its decimal form."""
    return float(Decimal(repr(x)).quantize(Decimal("0.000001"), rounding=ROUND_HALF_UP))


class Oracle:
    def __init__(self, store_path: str, docs_path: str | None = None):
        self.con = duckdb.connect()
        self.store = store_path
        self.docs = []
        if docs_path:
            self.docs = self.con.execute(
                f"SELECT db_identifier, name, license, description "
                f"FROM read_parquet('{docs_path}/*.parquet') ORDER BY db_identifier"
            ).fetchall()
            self._toks = [re.split(r"\s+", d[3].lower().strip(" ")) for d in self.docs]

    def close(self) -> None:
        self.con.close()

    def _t(self, name: str) -> str:
        return f"read_parquet('{self.store}/{name}/*.parquet')"

    def _rows(self, sql: str, params=()) -> list[tuple]:
        return self.con.execute(sql, list(params)).fetchall()

    # ---- store
    def store_counts(self) -> dict[str, int]:
        (triplets,), = self._rows(f"SELECT count(*) FROM {self._t('triplet')}")
        by_flag = dict(self._rows(
            f"SELECT deprecated, count(*) FROM {self._t('version_range')} GROUP BY 1"
        ))
        return {
            "triplets": triplets,
            "open_ranges": by_flag.get(False, 0),
            "deprecated_ranges": by_flag.get(True, 0),
        }

    def current_graph(self):
        return self._rows(
            f"SELECT t.subject, t.predicate, t.object FROM {self._t('triplet')} t "
            f"JOIN (SELECT DISTINCT triplet_hash FROM {self._t('version_range')} "
            f"WHERE NOT deprecated) USING (triplet_hash)"
        )

    def graph_at(self, ts):
        return self._rows(
            f"SELECT t.subject, t.predicate, t.object FROM {self._t('triplet')} t "
            f"JOIN (SELECT DISTINCT triplet_hash FROM {self._t('version_range')} "
            f"WHERE use_start <= ? AND use_end >= ?) USING (triplet_hash)",
            (ts, ts),
        )

    def changes_between(self, t1, t2):
        vr = self._t("version_range")
        return self._rows(
            f"SELECT t.subject, t.predicate, t.object, c.change FROM {self._t('triplet')} t "
            f"JOIN (SELECT DISTINCT triplet_hash, 'added' AS change FROM {vr} "
            f"      WHERE use_start > ? AND use_start <= ? "
            f"      UNION ALL "
            f"      SELECT DISTINCT triplet_hash, 'removed' FROM {vr} "
            f"      WHERE deprecated AND use_end >= ? AND use_end < ?) c "
            f"USING (triplet_hash)",
            (t1, t2, t1, t2),
        )

    def history(self, subject: str):
        return self._rows(
            f"SELECT t.subject, t.predicate, t.object, vr.use_start, vr.use_end, "
            f"vr.deprecated, ei.extraction_method, ei.extraction_confidence "
            f"FROM {self._t('triplet')} t "
            f"JOIN {self._t('version_range')} vr USING (triplet_hash) "
            f"JOIN {self._t('extraction_info')} ei USING (info_hash) "
            f"WHERE t.subject = ?",
            (subject,),
        )

    # ---- search docs
    def lookup(self, identifier: str):
        return [d for d in self.docs if d[0] == identifier]

    def search_prefix(self, query: str, facets: dict, limit: int = 20):
        q = query.lower()
        hits = []
        for d in self.docs:
            name = d[1].lower()
            prefix = 3 <= len(q) <= min(len(name), 30) and name.startswith(q)
            if not (prefix or name == q):
                continue
            if "license" in facets and d[2] != facets["license"].lower():
                continue
            score = round6((2.0 if name == q else 1.0) + 1.0 / (len(d[1]) + 1.0))
            hits.append((*d, score))
        hits.sort(key=lambda h: (-h[4], h[0]))
        return hits[:limit]

    def search_bm25(self, terms: list[str], k: int = 20, k1: float = 1.2, b: float = 0.75):
        n = float(len(self.docs))
        avgdl = float(sum(len(t) for t in self._toks)) / n
        terms = [t.lower() for t in terms]
        dfs = [sum(1 for toks in self._toks if t in toks) for t in terms]
        scored = []
        for d, toks in zip(self.docs, self._toks):
            norm = k1 * (1.0 - b + b * float(len(toks)) / avgdl)
            score = 0.0
            for t, df in zip(terms, dfs):
                tf = float(toks.count(t))
                idf = math.log(1.0 + (n - df + 0.5) / (df + 0.5))
                score = score + idf * tf * (k1 + 1.0) / (tf + norm)
            score = round6(score)
            if score > 0:
                scored.append((d[0], score))
        scored.sort(key=lambda h: (-h[1], h[0]))
        return [(i, s, r + 1) for r, (i, s) in enumerate(scored[:k])]

    def search_with_history(self, terms: list[str], k: int = 10):
        hits = self.search_bm25(terms, k)
        out = []
        for i, s, r in hits:
            audit = self._rows(
                f"SELECT t.predicate, t.object, vr.use_start, vr.use_end, vr.deprecated "
                f"FROM {self._t('triplet')} t "
                f"JOIN {self._t('version_range')} vr USING (triplet_hash) "
                f"WHERE t.subject = ?",
                (i,),
            )
            out += [(i, s, r, *a) for a in audit] or [(i, s, r, None, None, None, None, None)]
        return out
