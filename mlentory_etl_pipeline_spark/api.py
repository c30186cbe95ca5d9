"""The unified read/query surface (SURVEY §3.3).

The reference exposes three disjoint query languages against three
stores: SPARQL at Virtuoso (`RDFHandler.query`,
``RDFHandler.py:181-201``), parameterized SQL at Postgres
(``SQLHandler.py:239-275``), and the ES search DSL
(``IndexHandler.py:374-390``). This facade is the Spark-native
equivalent the survey calls for — one object, every query an ordinary
DataFrame over the same versioned tables, strictly more capable than
the reference's three endpoints because results compose (join a
search hit onto its audit history in one plan).

All methods are thin delegations into the operator library — no logic
lives here, so each capability stays independently tested; the facade
is tested for surface completeness and composition.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mlentory_etl_pipeline_spark.operators import search as search_ops
from mlentory_etl_pipeline_spark.operators import versioned_store as vs


class QueryInterface:
    """One handle over the versioned triple store + search docs.

    Parameters
    ----------
    store:
        a :class:`~mlentory_etl_pipeline_spark.operators.versioned_store.
        VersionedTripleStore` (or anything with ``.state()`` and
        ``.commit(state)``). Reads reuse the store's committed state, so
        building one runs no job.
    search_docs:
        optional prebuilt ``model_search`` DataFrame (Q4,
        ``search_ops.build_search_docs``); required only for the
        search methods.
    """

    def __init__(self, store, search_docs: DataFrame | None = None):
        self._store = store
        self._docs = search_docs

    # ---- graph reads (SPARQL surface: Q7/Q8/Q9/Q10) ----
    def current_graph(self) -> DataFrame:
        return vs.current_graph(self._store.state())

    def deprecated_graph(self) -> DataFrame:
        return vs.deprecated_graph(self._store.state())

    def graph_at(self, ts) -> DataFrame:
        return vs.graph_at(self._store.state(), ts)

    def changes_between(self, t1, t2, net: bool = False) -> DataFrame:
        """Change-data-feed: triples added/removed in the window — what
        a downstream consumer replays instead of re-reading the graph.
        ``net=True`` collapses intra-window churn to its net effect so
        ``graph_at(t2) == (graph_at(t1) - removed) + added`` exactly."""
        return vs.changes_between(self._store.state(), t1, t2, net=net)

    def counts(self) -> DataFrame:
        return vs.counts(self._store.state())

    # ---- audit reads (SQL surface: Q10 history) ----
    def history(self, subject: str) -> DataFrame:
        return vs.history(self._store.state(), subject)

    # ---- search reads (ES surface: Q5/Q6) ----
    def _require_docs(self) -> DataFrame:
        if self._docs is None:
            raise ValueError("QueryInterface built without search_docs")
        return self._docs

    def lookup(self, identifier: str) -> DataFrame:
        return search_ops.exact_lookup(self._require_docs(), identifier)

    def search_prefix(self, query: str, facets: dict | None = None, limit: int = 20) -> DataFrame:
        return search_ops.prefix_search(self._require_docs(), query, facets, limit)

    def search_terms(self, terms: list[str], text_col: str, k: int = 20) -> DataFrame:
        return search_ops.term_search(self._require_docs(), terms, text_col, k=k)

    def search_bm25(self, terms: list[str], text_col: str, k: int = 20) -> DataFrame:
        return search_ops.bm25_rank(
            self._require_docs(), terms, "db_identifier", text_col, k=k
        )

    # ---- composition the reference cannot do in one query ----
    def search_with_history(self, terms: list[str], text_col: str, k: int = 10) -> DataFrame:
        """BM25 hits joined straight onto their audit trail — one plan
        across the ES-shaped and Postgres-shaped tables (the reference
        needs two round-trips and client-side glue)."""
        hits = self.search_bm25(terms, text_col, k=k)
        state = self._store.state()
        audit = state.triplet.join(
            state.version_range.drop("subject"), "triplet_hash"
        ).select(
            F.col("subject").alias("db_identifier"),
            "predicate",
            "object",
            "use_start",
            "use_end",
            "deprecated",
        )
        return hits.join(audit, "db_identifier", "left").orderBy(
            "rank", "predicate", "object", "use_start"
        )

    # ---- lifecycle ----
    def vacuum(self, cutoff):
        """Apply the retention vacuum and persist (see
        ``versioned_store.vacuum_closed_ranges``)."""
        return self._store.commit(vs.vacuum_closed_ranges(self._store.state(), cutoff))
