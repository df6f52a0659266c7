"""Corpus-level duplication statistics (cross-document n-gram overlap).

``doc_repetition_stats`` (llm/text.py) measures repetition *within* a
document; training-data curation also needs the *cross-document* signal —
what fraction of a document's n-grams appear in at least one other
document. That per-doc "duplication rate" is the filter signal used by
Gopher/MassiveText-style pipelines to drop boilerplate-heavy pages that
survive exact and near dedup.

Plan shape: shingle → explode → one groupBy(shingle) for document
frequency → one join back → one groupBy(doc_id). Two shuffles, both on
high-cardinality keys; the shingle DF table is the same inverted index
the n-gram Jaccard dedup builds, so at production scale the two share a
materialized intermediate.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_loading_scripts_spark.catalog import load_table
from etl_loading_scripts_spark.llm.dedup import _SHINGLES_SQL_DUCK, _shingles_spark
from etl_loading_scripts_spark.registry import register


@register(
    "ngram_duplication_rate",
    oracle=f"""
    WITH shingled AS ({_SHINGLES_SQL_DUCK}),
    ex AS (
        SELECT doc_id, unnest(shingles) AS shingle FROM shingled
    ),
    dfc AS (
        SELECT shingle, count(*) AS df FROM ex GROUP BY 1
    ),
    per AS (
        SELECT e.doc_id,
               count(*) AS n_shingles,
               CAST(sum(CASE WHEN f.df >= 2 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_dup
        FROM ex e JOIN dfc f USING (shingle)
        GROUP BY 1
    )
    SELECT p.doc_id, d.source, p.n_shingles, p.n_dup,
           CAST(p.n_dup AS DOUBLE) / CAST(p.n_shingles AS DOUBLE) AS dup_rate
    FROM per p JOIN documents d USING (doc_id)
    """,
    doc="Cross-document duplication rate: per doc, the fraction of its "
    "distinct word-3-gram shingles that occur in >= 2 documents — the "
    "Gopher-style boilerplate signal, built on the same shingle inverted "
    "index as the n-gram dedup family.",
)
def ngram_duplication_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale: the shingle DF groupBy is the corpus inverted index — one
    shuffle on the shingle hash (no stop-shingle cap needed here: this is
    a pure count, never a pairwise join). The join back to exploded
    shingles co-partitions on the same key; the final per-doc rollup is a
    shuffle on doc_id that the shingle stage already pre-partitioned.
    Nothing is quadratic in anything."""
    docs = load_table(spark, sf_dir, "documents")
    ex = _shingles_spark(docs).select(
        "doc_id", F.explode("shingles").alias("shingle")
    )
    dfc = ex.groupBy("shingle").agg(F.count(F.lit(1)).alias("df"))
    per = (
        ex.join(dfc, "shingle")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_shingles"),
            F.sum(F.when(F.col("df") >= 2, 1).otherwise(0))
            .cast("long")
            .alias("n_dup"),
        )
    )
    return per.join(docs.select("doc_id", "source"), "doc_id").select(
        "doc_id",
        "source",
        "n_shingles",
        "n_dup",
        (F.col("n_dup").cast("double") / F.col("n_shingles").cast("double")).alias(
            "dup_rate"
        ),
    )


from etl_loading_scripts_spark.registry import REGISTRY as _REGISTRY  # noqa: E402


@register(
    "corpus_release_manifest",
    oracle=rf"""
    SELECT 'n_docs' AS metric, CAST(COUNT(*) AS BIGINT) AS value FROM documents
    UNION ALL
    SELECT 'n_tokens', CAST(SUM(len(list_filter(
               string_split_regex(lower(text), '\W+'), w -> w <> ''))) AS BIGINT)
    FROM documents
    UNION ALL
    SELECT 'n_langs', CAST(COUNT(DISTINCT lang) AS BIGINT) FROM documents
    UNION ALL
    SELECT 'n_sources', CAST(COUNT(DISTINCT source) AS BIGINT) FROM documents
    UNION ALL
    SELECT 'n_exact_dup_docs',
           CAST(COUNT(*) - COUNT(DISTINCT md5(text)) AS BIGINT) FROM documents
    UNION ALL
    SELECT 'n_gopher_pass', CAST(SUM(gopher_pass) AS BIGINT)
    FROM ({_REGISTRY['quality_gopher_rules'].oracle})
    UNION ALL
    SELECT 'n_near_dup_pairs', CAST(COUNT(*) AS BIGINT)
    FROM ({_REGISTRY['dedup_minhash_lsh'].oracle})
    UNION ALL
    SELECT 'n_leaked_split_pairs', CAST(COALESCE(SUM(n_pairs), 0) AS BIGINT)
    FROM ({_REGISTRY['split_leakage_audit'].oracle}) WHERE leaked = 1
    UNION ALL
    SELECT 'n_mojibake_docs', CAST(SUM(n_mojibake_docs) AS BIGINT)
    FROM ({_REGISTRY['encoding_mojibake_repair'].oracle})
    UNION ALL
    SELECT 'n_url_dup_dropped', CAST(SUM(n_dropped) AS BIGINT)
    FROM ({_REGISTRY['url_canonicalize_dedup'].oracle})
    """,
    doc="The corpus release manifest (datasheet): one (metric, value) "
    "table with document/token/language/source counts, exact-duplicate "
    "mass, Gopher pass count, the MinHash-LSH near-dup pair count, "
    "cross-split leakage pairs, mojibake-affected docs, and URL-dedup "
    "drops — "
    "every number produced by composing the registered audits verbatim, "
    "so the manifest can never disagree with the operators it "
    "summarizes. The single artifact a dataset card quotes.",
)
def corpus_release_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Each metric is a scalar aggregate over an already-registered
    pipeline; the unions are driver-side plan stitching, not data
    movement. At 100 TB the expensive members (near-dup pairs) are the
    same jobs the release pipeline already ran — a production manifest
    reads their persisted outputs rather than recomputing."""
    from etl_loading_scripts_spark.llm.dedup import (
        minhash_lsh_pairs,
        url_canonicalize_dedup,
    )
    from etl_loading_scripts_spark.llm.sampling import split_leakage_audit
    from etl_loading_scripts_spark.llm.text import (
        encoding_mojibake_repair,
        quality_gopher_rules,
    )

    docs = load_table(spark, sf_dir, "documents")
    # Shingling happens ONCE (r15 — VERDICT r14 item 6, guide §5): the
    # near-dup pair count and the leakage audit's Jaccard core both
    # consume the corpus shingle table; un-shared they each re-shingled
    # the corpus (and the Jaccard core pays an eager hot-shingle count
    # on top). localCheckpoint, NOT persist: a persist registers in the
    # CacheManager and is never auto-evicted, so a long session running
    # many queries accumulates dead caches until the heap tips (a 351-
    # query sweep OOM'd exactly there); a localCheckpoint's blocks are
    # freed by the ContextCleaner as soon as the query's frames are
    # dropped, with the same compute-once property. The trade: local-
    # checkpoint blocks are not replicated and their lineage is cut, so
    # losing an executor fails the manifest query instead of
    # recomputing it — accepted for a per-query table.
    shingled = _shingles_spark(docs).localCheckpoint()

    def scalar(name, df_agg):
        return df_agg.select(
            F.lit(name).alias("metric"),
            F.col("v").cast("bigint").alias("value"),
        )

    tokens = F.expr(
        r"cast(size(filter(split(lower(text), '\\W+'), w -> w <> '')) as long)"
    )
    parts = [
        scalar("n_docs", docs.agg(F.count(F.lit(1)).alias("v"))),
        scalar("n_tokens", docs.agg(F.sum(tokens).alias("v"))),
        scalar("n_langs", docs.agg(F.countDistinct("lang").alias("v"))),
        scalar("n_sources", docs.agg(F.countDistinct("source").alias("v"))),
        scalar(
            "n_exact_dup_docs",
            docs.agg(
                (F.count(F.lit(1)) - F.countDistinct(F.md5("text"))).alias("v")
            ),
        ),
        scalar(
            "n_gopher_pass",
            quality_gopher_rules(spark, sf_dir).agg(
                F.sum("gopher_pass").alias("v")
            ),
        ),
        scalar(
            "n_near_dup_pairs",
            minhash_lsh_pairs(shingled).agg(F.count(F.lit(1)).alias("v")),
        ),
        scalar(
            "n_leaked_split_pairs",
            split_leakage_audit(spark, sf_dir, shingled=shingled)
            .filter(F.col("leaked") == 1)
            .agg(F.coalesce(F.sum("n_pairs"), F.lit(0)).alias("v")),
        ),
        scalar(
            "n_mojibake_docs",
            encoding_mojibake_repair(spark, sf_dir).agg(
                F.sum("n_mojibake_docs").alias("v")
            ),
        ),
        scalar(
            "n_url_dup_dropped",
            url_canonicalize_dedup(spark, sf_dir).agg(
                F.sum("n_dropped").alias("v")
            ),
        ),
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out
