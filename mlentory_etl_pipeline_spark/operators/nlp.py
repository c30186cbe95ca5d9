"""NLP enrichment operators (SURVEY §2.8 N1–N9), Spark-first.

The reference couples these to GPU transformer/vLLM engines
(``QAMatchingEngine.py``, ``QAInferenceEngine.py``). Here the *plumbing*
— sectionizing, dedup, grouping, top-k routing, answer assembly — is
real distributed Spark, while the model calls sit behind an engine
interface with a deterministic fake implementation (the reference
itself ships a "None" strategy default, ``run_extract_transform_load
.py:350-355``; LLM outputs are excluded from the correctness gate per
SURVEY §7.3).

Scale notes: sectionizing is an Arrow-batched ``pandas_udf`` returning
an array-of-struct column (one pass, no Python row loop); embedding
generation is ``mapInPandas`` so a real engine amortizes model load per
partition and batches matmuls; section/question matching reuses the
similarity operators (broadcast question side + bounded top-k window).
"""

from __future__ import annotations

import hashlib
import math
import re
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    FloatType,
    IntegerType,
    StringType,
    StructField,
    StructType,
)

SECTION_SCHEMA = ArrayType(
    StructType(
        [
            StructField("title", StringType()),
            StructField("content", StringType()),
            StructField("level", IntegerType()),
            StructField("start_line", IntegerType()),
        ]
    )
)


def _sectionize_markdown(text: str) -> list[dict]:
    """Header-hierarchy section split, code-block aware, with
    ``h1 > h2`` breadcrumb titles (mirrors the behavior of the
    reference's MarkdownParser.parse, ``MarkdownParser.py:45-176``)."""
    if not text:
        return []
    sections: list[dict] = []
    breadcrumbs: list[tuple[int, str]] = []
    cur_title, cur_level, cur_start, cur_lines = "", 0, 0, []
    fence: str | None = None  # open fence marker: "```" or "~~~"

    def flush(end_line):
        content = "\n".join(cur_lines).strip()
        if content or cur_title:
            sections.append(
                {
                    "title": cur_title,
                    "content": content,
                    "level": cur_level,
                    "start_line": cur_start,
                }
            )

    for i, line in enumerate(text.splitlines()):
        stripped = line.lstrip()
        # both fence styles guard '#' lines (reference handles ``` AND
        # ~~~, test_MarkdownParser.py::test_code_blocks); a fence only
        # closes on its own marker
        marker = next((m for m in ("```", "~~~") if stripped.startswith(m)), None)
        if marker and (fence is None or fence == marker):
            fence = None if fence == marker else marker
            cur_lines.append(line)
            continue
        m = None if fence else re.match(r"^(#{1,6})\s+(.*)$", line)
        if m:
            flush(i)
            level = len(m.group(1))
            title = m.group(2).strip()
            while breadcrumbs and breadcrumbs[-1][0] >= level:
                breadcrumbs.pop()
            breadcrumbs.append((level, title))
            cur_title = " > ".join(t for _, t in breadcrumbs)
            cur_level, cur_start, cur_lines = level, i, []
        else:
            cur_lines.append(line)
    flush(-1)
    return sections


def sectionize(df: DataFrame, text_col: str, out_col: str = "sections") -> DataFrame:
    """N1 — markdown sectionizer as an Arrow-batched pandas_udf."""

    @F.pandas_udf(SECTION_SCHEMA)
    def run(texts: pd.Series) -> pd.Series:
        return texts.map(_sectionize_markdown)

    return df.withColumn(out_col, run(F.col(text_col)))


def dedup_sections(sections_long: DataFrame, content_col: str = "content",
                   title_col: str = "title") -> DataFrame:
    """N3 — section dedup on sha256(content), keeping the shortest title
    (``MarkdownParser.py:543-610``): one ``min_by`` aggregation."""
    other = [c for c in sections_long.columns if c not in (content_col,)]
    return (
        sections_long.groupBy(F.sha2(F.col(content_col), 256).alias("content_sha"))
        .agg(
            F.min_by(
                F.struct(*[F.col(c) for c in sections_long.columns]),
                F.struct(F.length(title_col), F.col(title_col)),
            ).alias("_r")
        )
        .select("content_sha", *[F.col(f"_r.{c}").alias(c) for c in sections_long.columns])
    )


# ------------------------------------------------------------- engines

class FakeEmbeddingEngine:
    """Deterministic stand-in for the transformer encoder (N4): a text's
    embedding is derived from its sha256 digest, L2-normalized. Same
    mapInPandas plumbing a real engine would use — swap ``embed_pdf``
    for a model call."""

    def __init__(self, dim: int = 16):
        self.dim = dim

    def embed_one(self, text: str) -> list[float]:
        digest = hashlib.sha256((text or "").encode()).digest()
        raw = [digest[i % 32] / 255.0 - 0.5 for i in range(self.dim)]
        norm = math.sqrt(sum(x * x for x in raw)) or 1.0
        return [x / norm for x in raw]


def embed_texts(
    df: DataFrame,
    text_col: str,
    engine: FakeEmbeddingEngine | None = None,
    out_col: str = "embedding",
) -> DataFrame:
    """N4 — embedding generation via mapInPandas (per-partition engine
    init + Arrow batches; a GPU engine would batch encode here)."""
    engine = engine or FakeEmbeddingEngine()
    fields = df.schema.fields
    out_schema = StructType(list(fields) + [StructField(out_col, ArrayType(FloatType()))])

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        # engine would lazily load its model once per partition here
        for pdf in batches:
            pdf = pdf.copy()
            pdf[out_col] = pdf[text_col].map(engine.embed_one)
            yield pdf

    return df.mapInPandas(run, out_schema)


def match_sections_to_questions(
    sections: DataFrame,
    questions: DataFrame,
    k: int = 2,
    section_id: str = "section_id",
    question_id: str = "question_id",
) -> DataFrame:
    """N5 — cosine top-k question×section matching: broadcast the (tiny)
    question side, score JVM-side, bounded window per question
    (``QAMatchingEngine.py:154-237``)."""
    from mlentory_etl_pipeline_spark.functions.vectors import cosine_similarity

    q = F.broadcast(
        questions.select(
            F.col(question_id), F.col("embedding").alias("q_emb")
        )
    )
    s = sections.select(F.col(section_id), F.col("embedding").alias("s_emb"))
    scored = q.crossJoin(s).select(
        question_id,
        section_id,
        F.round(cosine_similarity(F.col("q_emb"), F.col("s_emb")), 6).alias("score"),
    )
    w = Window.partitionBy(question_id).orderBy(F.desc("score"), F.asc(section_id))
    return scored.withColumn("rank", F.row_number().over(w)).where(F.col("rank") <= k)


class FakeQAEngine:
    """Deterministic extractive-QA stand-in (N7): "answers" are derived
    from the context hash; honors the reference's "Information not
    found" contract for empty contexts."""

    NOT_FOUND = "Information not found"

    def answer(self, question: str, context: str) -> str:
        if not context or not context.strip():
            return self.NOT_FOUND
        h = hashlib.sha256(f"{question}\x00{context}".encode()).hexdigest()
        words = context.split()
        return words[int(h[:8], 16) % len(words)]


def grouped_qa(
    pairs: DataFrame,
    engine: FakeQAEngine | None = None,
    context_col: str = "context",
    question_col: str = "question",
) -> DataFrame:
    """N7/N8 — group-by-context batched QA: the reference packs all
    questions for one context into one LLM prompt
    (``QAInferenceEngine.py:405-503``). Spark shape: groupBy(context) →
    collect questions → one engine call per context inside a pandas
    UDF → explode answers back out."""
    engine = engine or FakeQAEngine()

    grouped = pairs.groupBy(context_col).agg(
        F.array_sort(F.collect_list(question_col)).alias("questions")
    )

    answer_schema = ArrayType(
        StructType(
            [StructField("question", StringType()), StructField("answer", StringType())]
        )
    )

    @F.pandas_udf(answer_schema)
    def run(contexts: pd.Series, questions: pd.Series) -> pd.Series:
        # one "prompt" per context answers all its questions (the
        # packing the reference does for vLLM continuous batching)
        return pd.Series(
            [
                [
                    {"question": q, "answer": engine.answer(q, ctx)}
                    for q in qs
                ]
                for ctx, qs in zip(contexts, questions)
            ]
        )

    return (
        grouped.withColumn("qa", run(F.col(context_col), F.col("questions")))
        .select(context_col, F.explode("qa").alias("qa"))
        .select(context_col, F.col("qa.question").alias("question"), F.col("qa.answer").alias("answer"))
    )


def cluster_questions(questions: list[str], engine: FakeEmbeddingEngine | None = None,
                      k: int = 3) -> dict[str, int]:
    """N6 — question clustering. Tiny input (~30 questions in the
    reference) → driver-side k-means on deterministic embeddings, as the
    reference runs sklearn on the driver. Returns question → cluster."""
    engine = engine or FakeEmbeddingEngine()
    vecs = [engine.embed_one(q) for q in questions]
    if not questions:
        return {}
    k = min(k, len(questions))
    # deterministic k-means: seeds = first k questions, fixed iterations
    centroids = [list(v) for v in vecs[:k]]
    assign = [0] * len(vecs)
    for _ in range(10):
        for i, v in enumerate(vecs):
            assign[i] = min(
                range(k),
                key=lambda c: sum((a - b) ** 2 for a, b in zip(v, centroids[c])),
            )
        for c in range(k):
            members = [vecs[i] for i in range(len(vecs)) if assign[i] == c]
            if members:
                centroids[c] = [sum(xs) / len(members) for xs in zip(*members)]
    return {q: assign[i] for i, q in enumerate(questions)}


def cluster_questions_distributed(
    questions: DataFrame,
    text_col: str = "question",
    id_col: str = "question_id",
    k: int = 3,
    iters: int = 5,
) -> DataFrame:
    """N6 at scale: embed the question table (``embed_texts`` — Arrow
    ``mapInPandas``, deterministic fake engine) and cluster the vectors
    with the distributed Lloyd's k-means of
    :func:`...operators.similarity.kmeans_cluster` — the ``pyspark``
    path the driver-side :func:`cluster_questions` stand-in cannot take
    beyond a few hundred questions. Returns (id, question, cluster).
    """
    from mlentory_etl_pipeline_spark.operators.similarity import kmeans_cluster

    emb = embed_texts(questions, text_col)
    assigned = kmeans_cluster(emb, id_col=id_col, vec_col="embedding", k=k, iters=iters)
    return assigned.join(questions.select(id_col, text_col), id_col)


def grouped_match_topk(
    sections: DataFrame,
    questions: DataFrame,
    k: int = 3,
    n_clusters: int = 3,
    iters: int = 3,
    section_id_col: str = "section_id",
    section_text_col: str = "content",
    question_id_col: str = "question_id",
    question_text_col: str = "question",
) -> DataFrame:
    """The reference's full QA matching pipeline (N5+N6 composition,
    ``QAMatchingEngine.match_questions_to_sections:268-313``): cluster
    the questions, match sections ONCE per cluster using the cluster's
    lowest-id question as representative, then distribute that section
    list to every member — top-k scoring cost scales with #clusters,
    not #questions.

    Spark-first: distributed k-means on the question embeddings, a
    ``min`` aggregate picks representatives, one broadcast top-k match
    for the representative set, and a join fans results back out to
    members. Returns (question_id, question, cluster, section_id,
    score, rank).
    """
    from mlentory_etl_pipeline_spark.operators.similarity import (
        brute_force_topk,
        kmeans_cluster,
    )

    q_emb = embed_texts(questions, question_text_col)
    assigned = kmeans_cluster(
        q_emb, id_col=question_id_col, vec_col="embedding", k=n_clusters, iters=iters
    )
    reps = assigned.groupBy("cluster").agg(F.min(question_id_col).alias("_rep_id"))
    rep_vecs = (
        q_emb.select(F.col(question_id_col).alias("_rep_id"), "embedding")
        .join(reps, "_rep_id")
        .select(F.col("cluster").alias("query_id"), F.col("embedding").alias("query_vec"))
    )
    s_emb = embed_texts(sections, section_text_col).select(
        F.col(section_id_col).alias("vec_id"), "embedding"
    )
    matches = brute_force_topk(s_emb, rep_vecs, k=k).select(
        F.col("query_id").alias("cluster"),
        F.col("neighbor_id").alias(section_id_col),
        "score",
        "rank",
    )
    return (
        assigned.join(matches, "cluster")
        .join(questions.select(question_id_col, question_text_col), question_id_col)
        .select(question_id_col, question_text_col, "cluster", section_id_col, "score", "rank")
    )


def sectionize_lateral(
    spark, df: DataFrame, id_col: str, text_col: str
) -> DataFrame:
    """N1 on Spark 4's Python UDTF surface: the sectionizer as a
    TABLE function consumed via ``LATERAL`` — the modern-API sibling
    of :func:`sectionize` (same split logic, same rows).

    A UDTF emits the one-doc-to-N-sections fan-out DIRECTLY as rows —
    no array column + explode round-trip, no struct re-aliasing — and
    ``useArrow=True`` keeps the transfer batched. The plan is a
    Generate over a PythonUDTF: map-side, pipelined, no shuffle; at
    lake scale it behaves exactly like the pandas_udf + posexplode
    plan (both are one Python pass per partition).
    """
    from pyspark.sql.functions import udtf

    @udtf(
        returnType="title string, content string, level int, start_line int",
        useArrow=True,
    )
    class _SectionizeMd:
        def eval(self, text: str):
            for s in _sectionize_markdown(text or ""):
                yield s["title"], s["content"], s["level"], s["start_line"]

    name = "sectionize_md_udtf"
    spark.udtf.register(name, _SectionizeMd)
    view = f"_sectionize_src_{abs(hash((id_col, text_col))) % 1_000_000}"
    df.createOrReplaceTempView(view)
    return spark.sql(
        f"SELECT {id_col}, s.title, s.content, s.level, s.start_line "
        f"FROM {view}, LATERAL {name}({text_col}) s"
    )
