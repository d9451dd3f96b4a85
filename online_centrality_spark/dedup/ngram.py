"""N-gram Jaccard near-duplicate pairs.

Shingle = distinct lowercased word n-gram. Pairs sharing at least one
shingle are generated by an explode + self-join on the shingle hash
(the candidate generation is the shuffle-heavy part — at scale you cap
fan-out by dropping ultra-common shingles, exposed as ``max_doc_freq``);
Jaccard = |A ∩ B| / (|A| + |B| - |A ∩ B|) from the pair co-count and the
per-doc shingle counts. All JVM-side higher-order array functions.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .common import portable_hash, spread, word_ngrams


def shingles(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id", n: int = 3
) -> DataFrame:
    """(doc_id, shingle_hash) — distinct word n-grams, hashed."""
    return (
        spread(docs)
        .select(F.col(id_col), word_ngrams(text_col, n).alias("grams"))
        .select(id_col, F.explode("grams").alias("gram"))
        .select(id_col, portable_hash(F.col("gram")).alias("shingle_hash"))
    )


def decontaminate(
    docs: DataFrame,
    benchmark: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    min_overlap: int = 1,
) -> DataFrame:
    """Eval-set leakage scrub: flag training documents sharing at least
    ``min_overlap`` distinct word n-grams with a benchmark corpus.

    The standard decontamination stage of an LLM training pipeline
    (exact n-gram overlap against held-out benchmarks). Adds
    ``n_contaminated`` (distinct shared shingles) and ``contaminated``
    (0/1) to ``docs``.

    Scale plan: only ``(doc_id, shingle_hash)`` pairs ever shuffle; the
    benchmark's distinct shingle set is tiny by nature (benchmarks are
    ~1e5 docs vs a 100 TB corpus) so AQE broadcasts the semi-join's
    build side on its own — no forced hint, same discipline as the prep
    job's corpus-cardinality joins.
    """
    doc_sh = shingles(docs, text_col, id_col, n)
    bench_sh = (
        shingles(benchmark, text_col, id_col, n)
        .select("shingle_hash")
        .distinct()
    )
    hits = (
        doc_sh.join(bench_sh, "shingle_hash", "left_semi")
        .groupBy(id_col)
        .agg(F.count_distinct("shingle_hash").alias("n_contaminated"))
    )
    return (
        docs.join(hits, id_col, "left")
        .fillna(0, ["n_contaminated"])
        .withColumn(
            "contaminated",
            (F.col("n_contaminated") >= min_overlap).cast("int"),
        )
    )


def ngram_jaccard_pairs(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    threshold: float = 0.5,
    max_doc_freq: int | None = None,
) -> DataFrame:
    """(doc_a, doc_b, jaccard) for pairs with Jaccard >= threshold, a < b."""
    sh = shingles(docs, text_col, id_col, n).localCheckpoint(eager=False)
    if max_doc_freq is not None:
        rare = (
            sh.groupBy("shingle_hash")
            .agg(F.count("*").alias("df"))
            .filter(F.col("df") <= max_doc_freq)
            .select("shingle_hash")
        )
        sh = sh.join(rare, "shingle_hash", "left_semi")
    sizes = sh.groupBy(id_col).agg(F.count("*").alias("n_shingles"))
    a = sh.select(F.col(id_col).alias("doc_a"), "shingle_hash")
    b = sh.select(F.col(id_col).alias("doc_b"), "shingle_hash")
    inter = (
        a.join(b, "shingle_hash")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("inter"))
    )
    sa = sizes.select(F.col(id_col).alias("doc_a"), F.col("n_shingles").alias("na"))
    sb = sizes.select(F.col(id_col).alias("doc_b"), F.col("n_shingles").alias("nb"))
    return (
        inter.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            (
                F.col("inter")
                / (F.col("na") + F.col("nb") - F.col("inter"))
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


def ngram_containment_pairs(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    threshold: float = 0.8,
    max_doc_freq: int | None = None,
) -> DataFrame:
    """(doc_a, doc_b, containment) — DIRECTED near-duplicate detection:
    the fraction of doc_a's distinct word ``n``-grams that also occur in
    doc_b, for ordered pairs a != b with containment >= ``threshold``.

    Symmetric Jaccard misses sub-document duplication: a paragraph
    quoted verbatim inside a 100x longer page scores ~0.01 Jaccard but
    1.0 containment, so corpus-prep pipelines run BOTH — Jaccard for
    near-identical pages, containment for wholesale inclusion (Broder's
    resemblance/containment pair from the original shingling work).

    Scale plan: identical candidate stage to :func:`ngram_jaccard_pairs`
    — one shingle-hash-keyed self-join on the deduplicated
    ``(doc, shingle)`` relation (``max_doc_freq`` caps hub-shingle
    fan-out at corpus scale), one co-count groupBy on the UNDIRECTED
    pair (a < b); both ordered directions then come from the single
    co-count row via an in-row two-struct explode — no second shuffle,
    no recomputed join subtree.
    """
    sh = shingles(docs, text_col, id_col, n).localCheckpoint(eager=False)
    if max_doc_freq is not None:
        rare = (
            sh.groupBy("shingle_hash")
            .agg(F.count("*").alias("df"))
            .filter(F.col("df") <= max_doc_freq)
            .select("shingle_hash")
        )
        sh = sh.join(rare, "shingle_hash", "left_semi")
    sizes = sh.groupBy(id_col).agg(F.count("*").alias("n_shingles"))
    a = sh.select(F.col(id_col).alias("doc_a"), "shingle_hash")
    b = sh.select(F.col(id_col).alias("doc_b"), "shingle_hash")
    inter = (
        a.join(b, "shingle_hash")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("inter"))
    )
    sa = sizes.select(F.col(id_col).alias("doc_a"), F.col("n_shingles").alias("na"))
    sb = sizes.select(F.col(id_col).alias("doc_b"), F.col("n_shingles").alias("nb"))
    both = (
        inter.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select(
            F.explode(
                F.array(
                    F.struct(
                        F.col("doc_a").alias("doc_a"),
                        F.col("doc_b").alias("doc_b"),
                        (F.col("inter") / F.col("na")).alias("containment"),
                    ),
                    F.struct(
                        F.col("doc_b").alias("doc_a"),
                        F.col("doc_a").alias("doc_b"),
                        (F.col("inter") / F.col("nb")).alias("containment"),
                    ),
                )
            ).alias("p")
        )
        .select("p.doc_a", "p.doc_b", "p.containment")
    )
    return both.filter(F.col("containment") >= threshold)


def doc_novelty(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id", n: int = 3
) -> DataFrame:
    """``(doc_id, n_grams, n_unique, novelty)`` — the fraction of a
    document's distinct word ``n``-grams that appear in NO other
    document. High novelty = fresh content; low novelty = boilerplate /
    near-duplicate material the dedup stages should have caught — the
    corpus-diversity diagnostic that complements pairwise Jaccard.

    Scale shape: reuses the :func:`shingles` explode (only
    ``(doc_id, shingle_hash)`` pairs shuffle), one map-side-combinable
    document-frequency groupBy, one hash-keyed join back, one per-doc
    aggregate. Novelty is one exact-integer division behind
    round(·, 6). Documents shorter than ``n`` tokens have no grams and
    are not emitted.
    """
    sh = shingles(docs, text_col, id_col, n).localCheckpoint(eager=False)
    dfreq = sh.groupBy("shingle_hash").agg(F.count("*").alias("df"))
    return (
        sh.join(dfreq, "shingle_hash")
        .groupBy(id_col)
        .agg(
            F.count("*").alias("n_grams"),
            F.sum(F.when(F.col("df") == 1, 1).otherwise(0)).alias("n_unique"),
        )
        .select(
            id_col,
            F.col("n_grams").cast("long").alias("n_grams"),
            F.col("n_unique").cast("long").alias("n_unique"),
            F.round(F.col("n_unique") / F.col("n_grams"), 6).alias("novelty"),
        )
    )


def duplication_flow(
    pairs: DataFrame,
    docs: DataFrame,
    group_col: str = "source",
    id_col: str = "doc_id",
    score_col: str | None = None,
) -> DataFrame:
    """(group_a, group_b, n_pairs[, max_score]) — the duplication-flow
    matrix: near-duplicate pairs rolled up to the ``group_col`` level
    (source domain, crawl snapshot, language…), answering "which
    corpora copy from which" before choosing per-source dedup budgets.

    ``pairs`` is any (doc_a, doc_b[, score]) near-dup pair frame
    (n-gram Jaccard, MinHash, SemDeDup…); group keys are normalized to
    unordered (least, greatest) so the matrix is one triangle. The
    rollup statistic is ``max`` — order-insensitive and bit-exact
    across partition layouts, unlike a float mean (the repo's
    determinism rule for gate-hashed floats).

    Scale shape: two id-keyed equi-joins to attach group labels (the
    metadata side is (id, group) only — document bodies never move),
    then one map-side-combinable groupBy on the group pair; output
    cardinality is |groups|², tiny by construction.
    """
    meta_a = docs.select(
        F.col(id_col).alias("doc_a"), F.col(group_col).alias("_ga")
    )
    meta_b = docs.select(
        F.col(id_col).alias("doc_b"), F.col(group_col).alias("_gb")
    )
    keyed = (
        pairs.join(meta_a, "doc_a")
        .join(meta_b, "doc_b")
        .select(
            F.least("_ga", "_gb").alias("group_a"),
            F.greatest("_ga", "_gb").alias("group_b"),
            *([F.col(score_col)] if score_col else []),
        )
    )
    aggs = [F.count("*").cast("long").alias("n_pairs")]
    if score_col is not None:
        aggs.append(F.round(F.max(score_col), 6).alias("max_score"))
    return keyed.groupBy("group_a", "group_b").agg(*aggs)


def dedup_threshold_profile(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 2,
    max_doc_freq: int | None = None,
) -> DataFrame:
    """``(threshold, n_pairs, n_docs)`` for every Jaccard rung
    0.1 .. 0.9 — how many near-dup pairs (and how many documents
    touched by at least one) survive each dedup threshold: the
    budget-setting report run before committing to a cutoff. Every
    rung is emitted, zeros included. No reference counterpart.

    Scale shape: the shingle-bucket self-join is the one heavy stage
    (identical envelope to ``ngram_jaccard_pairs``, same optional
    ``max_doc_freq`` hub cap); each pair then reduces to an EXACT
    integer bucket ``floor(10 j) = (10 i) div (na + nb - i)`` — no
    float boundary decisions anywhere — and the ladder is a broadcast
    theta-join of two BUCKET-cardinality histograms (n_pairs from the
    pair-bucket histogram, n_docs from the per-doc MAX-bucket
    histogram), so nothing after the pair stage is data-sized.
    """
    sh = shingles(docs, text_col, id_col, n).localCheckpoint(eager=False)
    if max_doc_freq is not None:
        rare = (
            sh.groupBy("shingle_hash")
            .agg(F.count("*").alias("df"))
            .filter(F.col("df") <= max_doc_freq)
            .select("shingle_hash")
        )
        sh = sh.join(rare, "shingle_hash", "left_semi")
    sizes = sh.groupBy(id_col).agg(F.count("*").alias("ns"))
    inter = (
        sh.select(F.col(id_col).alias("da"), "shingle_hash")
        .join(sh.select(F.col(id_col).alias("db"), "shingle_hash"), "shingle_hash")
        .filter(F.col("da") < F.col("db"))
        .groupBy("da", "db")
        .agg(F.count("*").alias("i"))
    )
    pb = (
        inter.join(sizes.select(F.col(id_col).alias("da"), F.col("ns").alias("na")), "da")
        .join(sizes.select(F.col(id_col).alias("db"), F.col("ns").alias("nb")), "db")
        .select(
            "da",
            "db",
            F.expr("CAST((10 * i) DIV (na + nb - i) AS LONG)").alias("bkt"),
        )
        .filter(F.col("bkt") >= 1)
        .localCheckpoint(eager=False)
    )
    ph = pb.groupBy("bkt").agg(F.count("*").alias("m"))
    dh = (
        pb.select(F.col("da").alias("d"), "bkt")
        .unionAll(pb.select(F.col("db").alias("d"), "bkt"))
        .groupBy("d")
        .agg(F.max("bkt").alias("mb"))
        .groupBy("mb")
        .agg(F.count("*").alias("m"))
    )
    spark = docs.sparkSession
    ladder = spark.range(1, 10).select(F.col("id").alias("t"))
    np_ = (
        ladder.join(F.broadcast(ph), ph["bkt"] >= ladder["t"], "left")
        .groupBy("t")
        .agg(F.coalesce(F.sum("m"), F.lit(0)).alias("n_pairs"))
    )
    nd = (
        ladder.join(F.broadcast(dh), dh["mb"] >= ladder["t"], "left")
        .groupBy("t")
        .agg(F.coalesce(F.sum("m"), F.lit(0)).alias("n_docs"))
    )
    return (
        np_.join(nd, "t")
        .select(
            F.round(F.col("t") / 10.0, 1).alias("threshold"),
            F.col("n_pairs").cast("long").alias("n_pairs"),
            F.col("n_docs").cast("long").alias("n_docs"),
        )
    )
