"""Training-data pipeline query family: text analysis, deduplication
(exact / MinHash-LSH / SimHash / fingerprint), embedding near-dup and
brute-force ANN — the large-scale curation ops layered on the engine.

All Spark sides are pure higher-order column expressions (no UDFs, no
explode except SimHash's token unpivot); every query has a DuckDB oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .operators import text_ops as T
from .operators.skew import banded_self_pairs
from .sources import derived
from .sources.derived import hexn_to_bigint

SIMHASH_BITS = 16
ANN_K = 5
COS_THRESHOLD = 0.9999


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    derived.register_derived_views(spark, sf_dir)
    return spark.table("docs_dup")


def _emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    derived.register_derived_views(spark, sf_dir)
    return spark.table("emb_dup")


# --------------------------------------------------------------------------
# Spark side
# --------------------------------------------------------------------------

def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir)
    return (
        docs.groupBy(F.md5("text").alias("h"))
        .agg(F.min("doc_id").alias("keeper"), F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") > 1)
    )


def q_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir)
    w = T.words_expr(F.col("text"))
    return docs.select(
        "doc_id",
        F.size(w).alias("ws_tokens"),
        F.size(F.regexp_extract_all(F.col("text"), F.lit(T.BPE_ISH_RE), F.lit(0))).alias(
            "bpe_tokens"
        ),
    )


def q_text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir)
    w = T.words_expr(F.col("text"))
    n_words = F.size(w)
    chars_ns = F.length(F.translate(F.col("text"), " ", ""))
    stop_ratio = T.stopword_count_expr(w) / n_words.cast("double")
    score = F.round(
        stop_ratio * 0.4 + F.least(n_words, F.lit(400)) / F.lit(400.0) * 0.6, 6
    )
    return docs.select(
        "doc_id",
        n_words.alias("n_words"),
        F.round(chars_ns / n_words.cast("double"), 4).alias("avg_word_len"),
        F.round(stop_ratio, 4).alias("stopword_ratio"),
        score.alias("quality_score"),
    )


def q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir)
    w = T.words_expr(F.col("text"))
    return docs.select(
        "doc_id", T.lang_pred_expr(w).alias("pred_lang"), F.col("lang")
    )


def q_doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir)
    return (
        T.shingle_rows(docs, "doc_id")
        .groupBy("doc_id")
        .agg(F.min(F.md5("shingle")).alias("fp"))
    )


def q_dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Candidate near-dup pairs: 4-component MinHash, 2 bands × 2 rows.

    Bands are UNPIVOTED to (band_no, band_val) rows and paired through ONE
    hot-bucket-guarded self-join (operators/skew.banded_self_pairs). The
    expensive shingle+md5 signature chain sits below a single shuffle-by-band
    exchange that Catalyst reuses for every join side — no persist (the old
    cached-signature form leaked cached blocks across long-lived sessions),
    no recompute, and a degenerate band bucket (boilerplate docs sharing a
    band) is block-split instead of handed to one task as S² pairs."""
    docs = _docs(spark, sf_dir)
    # shingles as rows (posexplode + lead window: one tokenization per doc),
    # then one grouped pass computing all 4 seeded minima map-side
    rows = T.shingle_rows(docs, "doc_id")
    sig = rows.groupBy("doc_id").agg(
        *[
            F.min(F.md5(F.concat(F.lit(f"{k}|"), F.col("shingle")))).alias(f"mh{k}")
            for k in range(4)
        ]
    )
    return _minhash_pairs_from_sig(sig)


def _minhash_pairs_from_sig(sig: DataFrame, pin: F.Column | None = None) -> DataFrame:
    """Band-unpivot + hot-bucket-guarded self-join over a signature frame.

    ``pin``: optional value-neutral column expression concatenated into the
    band values. q_dedup_jaccard passes a zero-length projection of its
    shingle-set column so Catalyst cannot column-prune the shared
    groupBy(doc_id) aggregate into a second physical variant — keeping the
    candidate side and both set sides on ONE identical exchange
    (ReusedExchange ⇒ one shingle scan for the whole query)."""
    extra = [] if pin is None else [pin]
    bands = sig.select(
        "doc_id",
        F.explode(
            F.array(
                F.struct(
                    F.lit(1).alias("band_no"),
                    F.concat("mh0", "mh1", *extra).alias("band_val"),
                ),
                F.struct(
                    F.lit(2).alias("band_no"),
                    F.concat("mh2", "mh3", *extra).alias("band_val"),
                ),
            )
        ).alias("_b"),
    ).select("doc_id", "_b.band_no", "_b.band_val")
    pairs = banded_self_pairs(bands, ["band_no", "band_val"], "doc_id")
    return pairs.select("id_a", "id_b").distinct()


SUBSTR_TAU = 0.7  # min winnowing-fingerprint coverage of the smaller doc
SUBSTR_DF_CAP = 8  # drop fingerprints present in more docs (boilerplate)


def q_dedup_substring(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Substring-level near-dup pairs — the consumer of the winnowing
    sketch (r4 verdict #4): documents whose shared distinct winnowing
    fingerprints COVER >= SUBSTR_TAU of the smaller document's sketch
    (the MOSS-style containment score). Every shared substring of length
    >= WINNOW_W + WINNOW_K - 1 contributes a common fingerprint
    (Schleimer/Wilkerson/Aiken guarantee), so a high coverage ratio means
    long contiguous copied passages — the exact-substring training-data
    dedup product. An absolute shared-count threshold is noise on
    template-heavy corpora (every doc pair here shares a few boilerplate
    phrases); the ratio separates cleanly (planted dups ~1.0, background
    < 0.5 on the synthetic table).

    Scale shape: the sketch is per-doc window work (no cross-doc shuffle).
    Fingerprints in more than SUBSTR_DF_CAP documents are dropped BEFORE
    pairing (the MOSS index rule: ubiquitous fingerprints are template
    boilerplate, not evidence of copying) — without the df cut the
    candidate set is quadratic in how templated the corpus is (measured:
    142k candidate pairs from 550 docs at sf0.01, one fingerprint in 426
    of them; the cap → 10.6k candidates and 11x faster at sf0.1), and a
    pair supported only by ubiquitous fingerprints is exactly the pair
    the coverage threshold rejects anyway. Sketch sizes (post-cut) ride
    along as a window count; pairing routes through the hot-bucket-
    guarded banded self-join (operators/skew.banded_self_pairs) keyed on
    gram_hash; the pair aggregation is a plain partial-agg groupBy. The
    df window shuffles on gram_hash — the same key as the banded join.
    No all-pairs path at any |docs|."""
    derived.register_derived_views(spark, sf_dir)
    sk = winnow_hashes(spark.table("docs_dup"))  # kernel-distinct rows
    sk = (
        sk.withColumn(
            "_df", F.count(F.lit(1)).over(Window.partitionBy("gram_hash"))
        )
        .filter(F.col("_df") <= SUBSTR_DF_CAP)
        .drop("_df")
    )
    sk = sk.withColumn(
        "n", F.count(F.lit(1)).over(Window.partitionBy("doc_id"))
    )
    pairs = banded_self_pairs(sk, ["gram_hash"], "doc_id", payload_cols=("n",))
    agg = pairs.groupBy("id_a", "id_b").agg(
        F.count(F.lit(1)).alias("shared_fps"),
        F.max("n_a").alias("_na"),
        F.max("n_b").alias("_nb"),
    )
    cov = F.round(
        F.col("shared_fps").cast("double") / F.least("_na", "_nb"), 9
    )
    return (
        agg.withColumn("coverage", cov)
        .filter(F.col("coverage") >= SUBSTR_TAU)
        .select("id_a", "id_b", "shared_fps", "coverage")
    )


EVAL_MOD = 50   # every 50th document is the held-out "benchmark" set
DECON_TAU = 0.5  # min fp coverage of the EVAL doc's sketch to flag


def q_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination — the train/eval twin of
    q_dedup_substring: flag every training document sharing winnowing
    fingerprints that cover >= DECON_TAU of some eval document's sketch
    (substring-level overlap, the leakage that inflates benchmark
    scores). Same MOSS df-cut first: fingerprints ubiquitous across the
    corpus are template boilerplate, not leaked eval content.

    Scale shape: one sketch pass + ONE shuffle on gram_hash (the df
    window); the eval side is dimension-sized by construction (benchmarks
    are thousands of docs against a 10^12-doc corpus) so the probe is a
    BROADCAST join - the train corpus is never shuffled again, and a
    bigger corpus changes nothing about the eval side's size. Coverage is
    measured against the EVAL sketch (asymmetric, unlike dedup's
    least-side): a tiny eval doc fully contained in a huge train doc is
    exactly the leak to catch."""
    derived.load_testdata(spark, sf_dir)
    sk = winnow_hashes(spark.table("documents"))  # kernel-distinct rows
    kept = (
        sk.withColumn(
            "_df", F.count(F.lit(1)).over(Window.partitionBy("gram_hash"))
        )
        .filter(F.col("_df") <= SUBSTR_DF_CAP)
        .drop("_df")
    )
    ev = (
        kept.filter(F.col("doc_id") % EVAL_MOD == 0)
        .withColumn("ne", F.count(F.lit(1)).over(Window.partitionBy("doc_id")))
        .withColumnRenamed("doc_id", "eval_id")
    )
    tr = kept.filter(F.col("doc_id") % EVAL_MOD != 0)
    agg = (
        tr.join(F.broadcast(ev), "gram_hash")
        .groupBy("doc_id", "eval_id")
        .agg(F.count(F.lit(1)).alias("shared_fps"), F.max("ne").alias("_ne"))
    )
    cov = F.round(F.col("shared_fps").cast("double") / F.col("_ne"), 9)
    return (
        agg.withColumn("coverage", cov)
        .filter(F.col("coverage") >= F.lit(DECON_TAU))
        .select("doc_id", "eval_id", "shared_fps", "coverage")
    )


JACCARD_TAU = 0.6


def q_dedup_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact word-3-gram Jaccard similarity over the MinHash-LSH candidate
    pairs — the verify stage of the classic two-phase near-dup pipeline
    (LSH recall → exact residual precision). Set sizes only:
    J = |A∩B| / (|A| + |B| − |A∩B|), so no array_union materialization;
    at 10^12 docs the shingle sets join ONLY onto the candidate pairs
    (LSH-bounded), never all-pairs.

    ONE shingle pass (r3 verdict #4: the old form tokenized twice): the
    4 MinHash minima AND the exact shingle set come out of a single
    groupBy(doc_id), so the candidate side, the a-side and the b-side all
    hang off one identical exchange that Catalyst reuses
    (tests/test_perf_plans.py::test_dedup_jaccard_single_shingle_scan)."""
    docs = _docs(spark, sf_dir)
    rows = T.shingle_rows(docs, "doc_id")
    per_doc = rows.groupBy("doc_id").agg(
        *[
            F.min(F.md5(F.concat(F.lit(f"{k}|"), F.col("shingle")))).alias(f"mh{k}")
            for k in range(4)
        ],
        F.array_sort(F.collect_set("shingle")).alias("sh"),
    )
    # zero-length pin: makes the candidate side DEPEND on sh without
    # changing any band value, so all three consumers share one exchange
    pin = F.substring(F.size("sh").cast("string"), 1, 0)
    pairs = _minhash_pairs_from_sig(per_doc, pin=pin)
    a = per_doc.select(F.col("doc_id").alias("id_a"), F.col("sh").alias("sh_a"))
    b = per_doc.select(F.col("doc_id").alias("id_b"), F.col("sh").alias("sh_b"))
    j = pairs.join(a, "id_a").join(b, "id_b")
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.size("sh_a") + F.size("sh_b") - inter
    jac = F.round(inter.cast("double") / union, 9)
    return (
        j.select("id_a", "id_b", jac.alias("jaccard"))
        .filter(F.col("jaccard") >= JACCARD_TAU)
    )


CC_MAX_ROUNDS = 16


def q_dedup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components over the verified near-dup pair graph — the
    step that turns pairwise dedup evidence into the actual curation
    product: one canonical survivor per duplicate CLUSTER. Pairs are
    transitive in practice (A≈B, B≈C ⇒ keep one of {A,B,C}), so keeping
    `min(id_a, id_b)` per PAIR over-deletes; the component's global
    minimum is the standard keeper rule.

    Algorithm: iterative min-label propagation with pointer jumping —
    each round (a) relaxes labels across edges (one shuffle join on the
    edge src + a partial-agg min), then (b) jumps each label to its
    label's label (a self-join that halves remaining path lengths), so
    convergence is O(log diameter) rounds, not O(diameter). The edge
    list is persisted once and reused every round; labels are
    localCheckpoint()ed per round to truncate the growing lineage. At
    10^12 docs the edges are the LSH-verified near-dup pairs (orders of
    magnitude smaller than the corpus), every round is
    edge-partitioned work with no all-pairs path, and a planted
    worst-case chain still converges in log rounds. Genuinely iterative
    (driver-side convergence loop), yet still expressible to the oracle:
    DuckDB replays it as a recursive CTE reachability fixpoint.
    """
    pairs = q_dedup_jaccard(spark, sf_dir).select("id_a", "id_b")
    edges = (
        pairs.union(pairs.select("id_b", "id_a")).toDF("src", "dst").persist()
    )
    labels = (
        edges.select(F.col("src").alias("doc_id"))
        .distinct()
        .withColumn("comp", F.col("doc_id"))
        .localCheckpoint()
    )
    for _ in range(CC_MAX_ROUNDS):
        msgs = edges.join(
            labels.withColumnRenamed("doc_id", "src"), "src"
        ).select(F.col("dst").alias("doc_id"), "comp")
        relaxed = (
            labels.union(msgs).groupBy("doc_id").agg(F.min("comp").alias("comp"))
        )
        jumped = relaxed.join(
            relaxed.select(F.col("doc_id").alias("comp"), F.col("comp").alias("jc")),
            "comp",
            "left",
        ).select("doc_id", F.coalesce("jc", F.col("comp")).alias("comp"))
        new = jumped.localCheckpoint()
        changed = (
            new.join(labels.withColumnRenamed("comp", "old"), "doc_id")
            .filter(F.col("comp") != F.col("old"))
            .count()
        )
        labels = new
        if changed == 0:
            break
    else:
        raise RuntimeError(
            f"dedup_components: no fixpoint in {CC_MAX_ROUNDS} rounds"
        )
    edges.unpersist()
    sz = labels.groupBy("comp").agg(F.count(F.lit(1)).alias("csize"))
    return labels.join(sz, "comp").select(
        "doc_id",
        F.col("comp").alias("component_id"),
        F.col("csize").cast("bigint").alias("csize"),
        F.when(F.col("doc_id") == F.col("comp"), 1)
        .otherwise(0)
        .cast("int")
        .alias("keep"),
    )


TFIDF_TOPK = 3


def q_doc_tfidf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus term statistics: each document's TFIDF_TOPK most salient
    terms, ranked by tf·idf with the LOG-FREE idf = 1/df (rank-identical
    per doc to tf·(N/df) since N is constant within a document, and —
    unlike ln — bit-deterministic across engines: one IEEE division of
    the same integers gives the same double everywhere, so the
    cross-engine ordering can never flip on an ulp).

    Scale shape: tokenize+explode is map-side; the token rows are hashed
    by doc_id ONCE — partitioning by a subset of the group key satisfies
    the (doc_id, term) aggregation's clustering requirement AND the final
    window's doc_id partitioning, so tf-agg and top-k window share one
    exchange (the sessionize trick; r6 session 3: 2.91 → 1.08 s at the
    sf1.0 replica, exchanges 3 → 2). df aggregates tf's (already small
    per key) output on term with map-side combine; the tf⇄df join is
    per-term with exactly one df row per term (no multiplication,
    stopword-skew safe — and no broadcast hint: the term space is
    unbounded at corpus scale, AQE may still choose one when small).
    Compared columns are all INT/STRING.
    """
    docs = _docs(spark, sf_dir)
    toks = docs.select(
        "doc_id",
        F.explode(T.words_expr(F.lower(F.col("text")))).alias("term"),
    ).filter(F.col("term") != "")
    tf = toks.repartition(F.col("doc_id")).groupBy("doc_id", "term").agg(
        F.count(F.lit(1)).alias("tf")
    )
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    w = Window.partitionBy("doc_id").orderBy(
        (F.col("tf").cast("double") / F.col("df")).desc(), F.col("term").asc()
    )
    return (
        tf.join(dfreq, "term")
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TFIDF_TOPK)
        .select(
            "doc_id",
            "term",
            F.col("tf").cast("int").alias("tf"),
            F.col("df").cast("int").alias("df"),
            F.col("rank").cast("int").alias("rank"),
        )
    )


KMV_K = 64
KMV_M = 16**15  # hash space: 15 hex chars of md5 → [0, 2^60)


def q_distinct_kmv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct 3-gram-phrase cardinality per language via a K-minimum-
    values sketch — the approximate COUNT(DISTINCT) whose shuffle volume
    is BOUNDED (≤ k rows per group per task) instead of proportional to
    the true distinct count. (Shingles, not single terms: the fixture's
    per-lang phrase space is in the thousands, so the k-th-order-
    statistic path — not just the small-set exact fallback — is what the
    oracle actually verifies.)

    Why not exact? At 100 TB, `groupBy(lang).agg(count_distinct(gram))`
    shuffles every distinct (lang, gram) pair — the phrase book itself.
    KMV ships only each task's k smallest distinct hashes (mapInPandas
    partial sketch over JVM-computed hashes), merges them with one tiny
    shuffle, and estimates |S| ≈ (k-1)·M/h(k) from the k-th smallest
    merged hash. The global k smallest hashes each survive their own
    task's top-k, so the merged estimate is INDEPENDENT of partitioning
    — which also makes it exactly reproducible: the oracle computes the
    same k-th order statistic straight from the full distinct set and
    applies the identical division-first floor formula (md5-derived
    hashes are engine-portable; < k distinct falls back to the exact
    count, the standard KMV small-set rule).
    """
    import pandas as pd  # noqa: F401 — mapInPandas ships pandas batches

    docs = _docs(spark, sf_dir)
    grams = (
        docs.withColumn("w", T.words_expr(F.lower(F.col("text"))))
        .select("lang", F.explode(T.shingles_expr(F.col("w"))).alias("gram"))
    )
    hashed = grams.select(
        "lang", F.expr(hexn_to_bigint("md5(gram)", 15, "spark")).alias("h")
    )

    def _partial(batches):
        for b in batches:
            yield (
                b.drop_duplicates()
                .sort_values(["lang", "h"])
                .groupby("lang", as_index=False)
                .head(KMV_K)
            )

    sketch = hashed.mapInPandas(_partial, schema="lang string, h bigint")
    merged = sketch.dropDuplicates(["lang", "h"])
    wr = Window.partitionBy("lang").orderBy("h")
    wall = Window.partitionBy("lang")
    ranked = merged.select(
        "lang",
        "h",
        F.row_number().over(wr).alias("rn"),
        F.count(F.lit(1)).over(wall).alias("cnt"),
    )
    return ranked.filter(
        F.col("rn") == F.least(F.col("cnt"), F.lit(KMV_K))
    ).select(
        "lang",
        F.when(F.col("cnt") < KMV_K, F.col("cnt").cast("bigint"))
        .otherwise(
            F.floor(
                F.lit(KMV_K - 1)
                * (F.lit(float(KMV_M)) / F.col("h").cast("double"))
            ).cast("bigint")
        )
        .alias("distinct_est"),
    )


def q_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc 16-bit SimHash: per-token md5-derived bit votes."""
    docs = _docs(spark, sf_dir)
    tok = docs.select(
        "doc_id", F.explode(T.words_expr(F.col("text"))).alias("w")
    )
    th = F.expr(hexn_to_bigint("md5(w)", 4, "spark")).alias("th")
    tok = tok.select("doc_id", th)
    votes = [
        F.sum(
            F.when(F.shiftright(F.col("th"), j) % 2 == 1, 1).otherwise(-1)
        ).alias(f"s{j}")
        for j in range(SIMHASH_BITS)
    ]
    agg = tok.groupBy("doc_id").agg(*votes)
    value = None
    for j in range(SIMHASH_BITS):
        bit = F.when(F.col(f"s{j}") > 0, F.lit(2**j)).otherwise(F.lit(0))
        value = bit if value is None else value + bit
    return agg.select("doc_id", value.cast("bigint").alias("simhash"))


def _dot(a, b):
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )


# Fixture embedding dimensionality. _dot_fast unrolls to a flat codegen Add
# chain for arrays of exactly this length and falls back to the interpreted
# higher-order fold otherwise — rows of any other length stay correct.
EMB_DIM = 64


def _dot_fast(a, b, dim: int = EMB_DIM):
    """Dot product as a whole-stage-codegen expression (r6, guide §4.1).

    The zip_with+aggregate form evaluates through INTERPRETED lambda
    dispatch per element (higher-order functions never enter codegen) —
    measured as the dominant cost of the brute-force ANN scorer (3×
    per-pair folds × 64 interpreted steps each). The unrolled left-fold
    Add chain is bit-identical: same ((0.0 + p₁) + p₂)… association, same
    float→double widening per element (widening is exact, so per-element
    cast equals array-level cast), same NULL propagation."""
    acc = F.lit(0.0)
    for j in range(1, dim + 1):
        acc = acc + (
            F.element_at(a, j).cast("double") * F.element_at(b, j).cast("double")
        )
    return F.when((F.size(a) == dim) & (F.size(b) == dim), acc).otherwise(
        _dot(a.cast("array<double>"), b.cast("array<double>"))
    )


def _cos(a_col: str, b_col: str):
    a = F.col(a_col)
    b = F.col(b_col)
    return _dot_fast(a, b) / (F.sqrt(_dot_fast(a, a)) * F.sqrt(_dot_fast(b, b)))


SIGN_BAND_DIMS = 8  # dims per sign-LSH band (2 bands → dims 1-8 and 9-16)


def _sign_band(col, lo: int, n: int):
    """n-bit code from the signs of components lo+1 .. lo+n (1-based)."""
    b = None
    for j in range(n):
        bit = F.when(F.element_at(col, lo + j + 1) > 0, F.lit(2**j)).otherwise(
            F.lit(0)
        )
        b = bit if b is None else b + bit
    return b


def q_neardup_embedding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cosine >= threshold pairs blocked by sign-LSH bands — the SCALE
    method, not a ground-truth key: two 8-dim sign-pattern bands (random
    hyperplane LSH with axis-aligned planes), candidates = same band value
    in either band, exact cosine as the residual. A positive-scalar
    near-dup (the planted ×2 twins, cosine exactly 1.0) preserves every
    component sign, so both bands are guaranteed collisions; general
    near-dup recall follows the standard banded-LSH tradeoff (more bands →
    higher recall). Hot band buckets are block-split (banded_self_pairs)."""
    emb = _emb(spark, sf_dir)
    # norm hoisted to the row side (O3's ann_topk pattern, r6 session 3):
    # _cos recomputes BOTH self-norms per candidate pair; sqrt(dot(x,x))
    # per band row is |rows| × 1 dot instead of |pairs| × 2, and the
    # residual keeps the identical expression shape (same dot, same sqrt,
    # same division) so every cosine value is bit-equal to _cos's.
    bands = emb.select(
        "vec_id",
        "embedding",
        F.sqrt(_dot_fast(F.col("embedding"), F.col("embedding"))).alias("_n"),
        F.explode(
            F.array(
                F.struct(
                    F.lit(1).alias("band_no"),
                    _sign_band(F.col("embedding"), 0, SIGN_BAND_DIMS).alias(
                        "band_val"
                    ),
                ),
                F.struct(
                    F.lit(2).alias("band_no"),
                    _sign_band(
                        F.col("embedding"), SIGN_BAND_DIMS, SIGN_BAND_DIMS
                    ).alias("band_val"),
                ),
            )
        ).alias("_b"),
    ).select("vec_id", "embedding", "_n", "_b.band_no", "_b.band_val")
    pairs = banded_self_pairs(
        bands, ["band_no", "band_val"], "vec_id",
        payload_cols=("embedding", "_n"),
    )
    sim = _dot_fast(F.col("embedding_a"), F.col("embedding_b")) / (
        F.col("_n_a") * F.col("_n_b")
    )
    return (
        pairs.filter(sim >= COS_THRESHOLD)
        .select("id_a", "id_b")
        .distinct()
    )


def q_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-k for query vectors (vec_id % 100 == 0).

    r6: per-vector norms are computed ONCE per side before the cross join
    (guide §2.3 — don't recompute per pair what is a function of one
    side); with |Q|×|T| pairs the old inline _cos folded dot(q,q) and
    dot(t,t) per PAIR — two of its three 64-step folds were redundant.
    The remaining per-pair dot runs as the unrolled codegen chain
    (_dot_fast). sim values are bit-identical: same expressions over the
    same inputs, same dot/(sqrt·sqrt) association."""
    derived.register_derived_views(spark, sf_dir)
    emb = spark.table("embeddings")
    queries = emb.filter(F.col("vec_id") % 100 == 0).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("e_q"),
        F.sqrt(_dot_fast(F.col("embedding"), F.col("embedding"))).alias("_nq"),
    )
    targets = emb.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").alias("e_t"),
        F.sqrt(_dot_fast(F.col("embedding"), F.col("embedding"))).alias("_nt"),
    )
    from pyspark.sql import Window

    scored = (
        F.broadcast(queries)
        .crossJoin(targets)
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .withColumn(
            "sim",
            F.round(
                _dot_fast(F.col("e_q"), F.col("e_t"))
                / (F.col("_nq") * F.col("_nt")),
                9,
            ),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("sim").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= ANN_K)
        .select("query_id", "neighbor_id", "rank")
    )


# --------------------------------------------------------------------------
# DuckDB oracles
# --------------------------------------------------------------------------

_D = derived.oracle_prelude_docs()
_E = derived.oracle_prelude_emb()

_WORDS = "regexp_split_to_array(trim(text), '\\s+')"
_SHINGLES = (
    "CASE WHEN len(w) >= 3 THEN "
    "list_transform(range(len(w) - 2), i -> w[i+1] || ' ' || w[i+2] || ' ' || w[i+3]) "
    "END"
)

ORACLE: dict[str, str] = {}

ORACLE["dedup_exact"] = f"""{_D}
SELECT md5(text) AS h, CAST(min(doc_id) AS BIGINT) AS keeper,
       CAST(count(*) AS BIGINT) AS n
FROM docs_dup GROUP BY 1 HAVING count(*) > 1
"""

ORACLE["token_count"] = f"""{_D}
SELECT doc_id,
       CAST(len({_WORDS}) AS INT) AS ws_tokens,
       CAST(len(regexp_extract_all(text, '{T.BPE_ISH_RE}')) AS INT) AS bpe_tokens
FROM docs_dup
"""

_STOP_IN = "('" + "', '".join(T.STOPWORDS) + "')"

ORACLE["text_quality"] = f"""{_D},
base AS (
  SELECT doc_id, text, {_WORDS} AS w FROM docs_dup
),
m AS (
  SELECT doc_id,
    CAST(len(w) AS INT) AS n_words,
    length(translate(text, ' ', '')) AS chars_ns,
    len(list_filter(w, x -> x IN {_STOP_IN})) AS n_stop
  FROM base
)
SELECT doc_id, n_words,
  round(chars_ns / CAST(n_words AS DOUBLE), 4) AS avg_word_len,
  round(n_stop / CAST(n_words AS DOUBLE), 4) AS stopword_ratio,
  round(n_stop / CAST(n_words AS DOUBLE) * 0.4
        + least(n_words, 400) / 400.0 * 0.6, 6) AS quality_score
FROM m
"""

def _markers_in(lang: str) -> str:
    return "('" + "', '".join(T.LANG_MARKERS[lang]) + "')"

ORACLE["lang_id"] = f"""{_D},
base AS (SELECT doc_id, lang, {_WORDS} AS w FROM docs_dup),
c AS (
  SELECT doc_id, lang,
    len(list_filter(w, x -> x IN {_markers_in('de')})) AS c_de,
    len(list_filter(w, x -> x IN {_markers_in('en')})) AS c_en,
    len(list_filter(w, x -> x IN {_markers_in('fr')})) AS c_fr
  FROM base
)
SELECT doc_id,
  CASE WHEN c_de > c_en AND c_de > c_fr THEN 'de'
       WHEN c_fr > c_en THEN 'fr' ELSE 'en' END AS pred_lang,
  lang
FROM c
"""

ORACLE["doc_fingerprint"] = f"""{_D},
base AS (SELECT doc_id, {_WORDS} AS w FROM docs_dup),
sh AS (SELECT doc_id, {_SHINGLES} AS s FROM base)
SELECT doc_id, list_min(list_transform(s, x -> md5(x))) AS fp
FROM sh WHERE s IS NOT NULL
"""

_MH = ", ".join(
    f"list_min(list_transform(s, x -> md5('{k}|' || x))) AS mh{k}" for k in range(4)
)

ORACLE["dedup_minhash_lsh"] = f"""{_D},
base AS (SELECT doc_id, {_WORDS} AS w FROM docs_dup),
sh AS (SELECT doc_id, {_SHINGLES} AS s FROM base),
sig AS (
  SELECT doc_id, {_MH} FROM sh WHERE s IS NOT NULL
),
bands AS (
  SELECT doc_id, mh0 || mh1 AS band1, mh2 || mh3 AS band2 FROM sig
),
pairs AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b
  FROM bands a JOIN bands b ON a.band1 = b.band1 AND a.doc_id < b.doc_id
  UNION
  SELECT a.doc_id AS id_a, b.doc_id AS id_b
  FROM bands a JOIN bands b ON a.band2 = b.band2 AND a.doc_id < b.doc_id
)
SELECT id_a, id_b FROM pairs
"""

ORACLE["dedup_jaccard"] = f"""{_D},
base AS (SELECT doc_id, {_WORDS} AS w FROM docs_dup),
sh AS (SELECT doc_id, {_SHINGLES} AS s FROM base),
sig AS (
  SELECT doc_id, {_MH} FROM sh WHERE s IS NOT NULL
),
bands AS (
  SELECT doc_id, mh0 || mh1 AS band1, mh2 || mh3 AS band2 FROM sig
),
pairs AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b
  FROM bands a JOIN bands b ON a.band1 = b.band1 AND a.doc_id < b.doc_id
  UNION
  SELECT a.doc_id AS id_a, b.doc_id AS id_b
  FROM bands a JOIN bands b ON a.band2 = b.band2 AND a.doc_id < b.doc_id
),
sets AS (
  SELECT doc_id, list_distinct(s) AS sh FROM sh WHERE s IS NOT NULL
),
scored AS (
  SELECT p.id_a, p.id_b,
         round(
           CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
           / (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))),
           9
         ) AS jaccard
  FROM pairs p JOIN sets a ON p.id_a = a.doc_id JOIN sets b ON p.id_b = b.doc_id
)
SELECT id_a, id_b, jaccard FROM scored WHERE jaccard >= {JACCARD_TAU}
"""

# Reachability fixpoint over the SAME verified-pair query (embedded as a
# nested-WITH CTE): comp(x) = min doc_id reachable from x in the
# undirected pair graph — exactly what the Spark-side label propagation
# converges to.
ORACLE["dedup_components"] = f"""WITH RECURSIVE jp AS (
{ORACLE["dedup_jaccard"]}
),
edges AS (
  SELECT id_a AS src, id_b AS dst FROM jp
  UNION ALL
  SELECT id_b, id_a FROM jp
),
cnodes AS (SELECT DISTINCT src AS doc_id FROM edges),
reach(doc_id, comp) AS (
  SELECT doc_id, doc_id FROM cnodes
  UNION
  SELECT e.dst, r.comp FROM reach r JOIN edges e ON e.src = r.doc_id
),
lab AS (SELECT doc_id, MIN(comp) AS component_id FROM reach GROUP BY doc_id),
sz AS (SELECT component_id, COUNT(*) AS csize FROM lab GROUP BY component_id)
SELECT l.doc_id, l.component_id, CAST(s.csize AS BIGINT) AS csize,
       CAST(CASE WHEN l.doc_id = l.component_id THEN 1 ELSE 0 END AS INT) AS keep
FROM lab l JOIN sz s USING (component_id)
"""

ORACLE["doc_tfidf"] = f"""{_D},
toks AS (
  SELECT doc_id,
         unnest(list_filter(regexp_split_to_array(trim(lower(text)), '\\s+'),
                            t -> t <> '')) AS term
  FROM docs_dup
),
tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY 1, 2),
dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
ranked AS (
  SELECT t.doc_id, t.term, t.tf, d.df,
         row_number() OVER (PARTITION BY t.doc_id
                            ORDER BY CAST(t.tf AS DOUBLE) / d.df DESC,
                                     t.term ASC) AS rank
  FROM tf t JOIN dfreq d USING (term)
)
SELECT doc_id, term, CAST(tf AS INT) AS tf, CAST(df AS INT) AS df,
       CAST(rank AS INT) AS rank
FROM ranked WHERE rank <= {TFIDF_TOPK}
"""

# The oracle derives the SAME k-th order statistic from the full
# distinct hash set — no sketch, identical estimate formula
# (division-first, floor) over engine-portable md5 hashes.
ORACLE["distinct_kmv"] = f"""{_D},
kmv_base AS (
  SELECT lang, regexp_split_to_array(trim(lower(text)), '\\s+') AS w
  FROM docs_dup
),
kmv_grams AS (
  SELECT lang,
         unnest(list_transform(range(len(w) - 2),
                               i -> w[i+1] || ' ' || w[i+2] || ' ' || w[i+3]))
           AS gram
  FROM kmv_base WHERE len(w) >= 3
),
hs AS (
  SELECT DISTINCT lang, {hexn_to_bigint("md5(gram)", 15, "duckdb")} AS h
  FROM kmv_grams
),
ranked AS (
  SELECT lang, h, row_number() OVER (PARTITION BY lang ORDER BY h) AS rn,
         count(*) OVER (PARTITION BY lang) AS cnt
  FROM hs
)
SELECT lang,
       CASE WHEN cnt < {KMV_K} THEN CAST(cnt AS BIGINT)
            ELSE CAST(floor({KMV_K - 1} *
                            (CAST({KMV_M} AS DOUBLE) / CAST(h AS DOUBLE)))
                 AS BIGINT) END AS distinct_est
FROM ranked WHERE rn = least(cnt, {KMV_K})
"""

_TH = hexn_to_bigint("md5(w)", 4, "duckdb")
_VOTES = ", ".join(
    f"sum(CASE WHEN (th // {2**j}) % 2 = 1 THEN 1 ELSE -1 END) AS s{j}"
    for j in range(SIMHASH_BITS)
)
_VALUE = " + ".join(
    f"CASE WHEN s{j} > 0 THEN {2**j} ELSE 0 END" for j in range(SIMHASH_BITS)
)

ORACLE["dedup_simhash"] = f"""{_D},
tok AS (
  SELECT doc_id, unnest({_WORDS}) AS w FROM docs_dup
),
th AS (SELECT doc_id, {_TH} AS th FROM tok),
agg AS (SELECT doc_id, {_VOTES} FROM th GROUP BY doc_id)
SELECT doc_id, CAST({_VALUE} AS BIGINT) AS simhash FROM agg
"""

_DOT_AB = "list_dot_product(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[]))"
_DOT_AA = "list_dot_product(CAST(a.embedding AS DOUBLE[]), CAST(a.embedding AS DOUBLE[]))"
_DOT_BB = "list_dot_product(CAST(b.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[]))"
_COS_SQL = f"({_DOT_AB} / (sqrt({_DOT_AA}) * sqrt({_DOT_BB})))"

def _sign_band_sql(lo: int, n: int) -> str:
    return "(" + " + ".join(
        f"CASE WHEN embedding[{lo + j + 1}] > 0 THEN {2**j} ELSE 0 END"
        for j in range(n)
    ) + ")"


ORACLE["neardup_embedding"] = f"""{_E},
eb AS (
  SELECT vec_id, embedding,
         {_sign_band_sql(0, SIGN_BAND_DIMS)} AS band1,
         {_sign_band_sql(SIGN_BAND_DIMS, SIGN_BAND_DIMS)} AS band2
  FROM emb_dup
),
bands AS (
  SELECT vec_id, embedding, 1 AS band_no, band1 AS band_val FROM eb
  UNION ALL
  SELECT vec_id, embedding, 2 AS band_no, band2 AS band_val FROM eb
)
SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
FROM bands a JOIN bands b
  ON a.band_no = b.band_no AND a.band_val = b.band_val
 AND a.vec_id < b.vec_id
WHERE {_COS_SQL} >= {COS_THRESHOLD}
"""

ORACLE["ann_topk"] = f"""
WITH q AS (
  SELECT vec_id AS query_id, embedding FROM embeddings WHERE vec_id % 100 = 0
),
scored AS (
  SELECT a.query_id, b.vec_id AS neighbor_id,
         round({_COS_SQL.replace('a.embedding', 'a.embedding').replace('b.embedding', 'b.embedding')}, 9) AS sim
  FROM q a JOIN embeddings b ON a.query_id <> b.vec_id
),
ranked AS (
  SELECT query_id, neighbor_id,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY sim DESC, neighbor_id ASC) AS rank
  FROM scored
)
SELECT query_id, neighbor_id, CAST(rank AS INT) AS rank
FROM ranked WHERE rank <= {ANN_K}
"""

# --------------------------------------------------------------------------
# Winnowing fingerprint (Schleimer/Wilkerson/Aiken, SIGMOD 2003 — public
# paper): per-document sketch = the minimum k-gram hash of every sliding
# window of w consecutive k-grams, deduplicated. Guarantees any shared
# substring of length >= w + k - 1 contributes a common fingerprint —
# the "rolling hash" document-fingerprinting operator of the LLM-data
# toolkit. The k-gram hash is a Karp-Rabin polynomial (base 131 mod
# 2^31-1) over codepoints, written as ONE shared SQL text evaluated by
# both Catalyst and DuckDB, so parity is by construction. Windows are a
# ROWS frame min over (hash << 15 | pos) packed BIGINTs (ties break to
# the leftmost position, deterministic both sides).
# --------------------------------------------------------------------------

WINNOW_K = 8   # k-gram length (chars)
WINNOW_W = 4   # window: shared substrings >= 11 chars always fingerprint
_WINNOW_M = 2147483647  # 2^31 - 1
# pos packs below the hash in hash * 2^20 + pos: documents up to 2^20 chars
# (~1 MiB) keep pos out of the hash bits (r4 ADVICE: the old 2^15 field
# overflowed past ~32K chars). hash < 2^31, so pack < 2^51 — BIGINT-safe.
_WINNOW_POS_FIELD = 1048576  # 2^20


def _winnow_hash_sql() -> str:
    """Karp-Rabin polynomial over the k codepoints of the gram at `pos`
    (1-based substr), as dialect-shared SQL."""
    terms = [
        f"(CAST(ascii(substr(text, pos + {i + 1}, 1)) AS BIGINT) % {_WINNOW_M})"
        f" * {pow(131, WINNOW_K - 1 - i, _WINNOW_M)} % {_WINNOW_M}"
        for i in range(WINNOW_K)
    ]
    return "(" + " + ".join(terms) + f") % {_WINNOW_M}"


def q_doc_winnowing(spark: SparkSession, sf_dir: str) -> DataFrame:
    derived.register_derived_views(spark, sf_dir)
    return winnow(spark.table("documents"))


def winnow(docs: DataFrame) -> DataFrame:
    """docs(doc_id, text) → winnowing sketch rows (doc_id, gram_pos,
    gram_hash). Any substring of length ≥ WINNOW_W + WINNOW_K − 1 shared
    by two documents contributes at least one common gram_hash.

    r6: vectorized Arrow kernel (guide §4) — the SQL-window form
    (``tests/winnow_reference.py``, the oracle-shaped twin that
    ``tests/test_winnow_kernel.py`` proves equal) explodes one row per
    gram and pays a full shuffle+sort of the gram table just to run a per-doc
    sliding min the doc's own row already contains. The kernel computes
    the identical Karp-Rabin packs and window minima per document in
    int64 numpy (all intermediates < 2^52 — exact), entirely map-side:
    the gram-table exchange disappears from every sketch consumer
    (doc_winnowing 2.19 → 0.78 s at the sf1.0 replica, same 2 343 114
    rows; dedup_substring and decontaminate embed the same sketch)."""
    from pyspark.sql.types import (IntegerType, LongType, StructField,
                                   StructType)

    schema = StructType([
        StructField("doc_id", LongType(), True),
        StructField("gram_pos", IntegerType(), True),
        StructField("gram_hash", LongType(), True),
    ])
    src = docs.select("doc_id", "text")
    k, w, m_mod, field = WINNOW_K, WINNOW_W, _WINNOW_M, _WINNOW_POS_FIELD

    def kern(batches):
        import numpy as np
        import pandas as pd
        from numpy.lib.stride_tricks import sliding_window_view

        # ascii(substr(text, i, 1)) == ord(text[i-1]) for any codepoint
        wts = np.array(
            [pow(131, k - 1 - i, m_mod) for i in range(k)], dtype=np.int64
        )
        for pdf in batches:
            ids_out, pos_out, hash_out = [], [], []
            for did, text in zip(pdf["doc_id"], pdf["text"]):
                if text is None or len(text) < k:
                    continue
                cps = np.frombuffer(
                    text.encode("utf-32-le"), dtype=np.uint32
                ).astype(np.int64)
                g = (
                    (sliding_window_view(cps % m_mod, k) * wts[None, :])
                    % m_mod
                ).sum(axis=1) % m_mod
                n = len(g)
                pack = g * field + np.arange(n, dtype=np.int64)
                # suffix minima cover the tail windows that extend past
                # the last gram (ROWS BETWEEN CURRENT AND w-1 FOLLOWING
                # shrinks at the end of the partition)
                suf = np.minimum.accumulate(pack[::-1])[::-1]
                if n >= w:
                    full = sliding_window_view(pack, w).min(axis=1)
                    mins = np.concatenate([full, suf[n - w + 1:]])
                else:
                    mins = suf
                u = np.unique(mins)  # the SQL form's DISTINCT
                ids_out.append(np.full(len(u), did, dtype=np.int64))
                pos_out.append((u % field).astype(np.int32))
                hash_out.append(u // field)
            if ids_out:
                yield pd.DataFrame({
                    "doc_id": np.concatenate(ids_out),
                    "gram_pos": np.concatenate(pos_out),
                    "gram_hash": np.concatenate(hash_out),
                })

    return src.mapInPandas(kern, schema)


def winnow_hashes(docs: DataFrame) -> DataFrame:
    """(doc_id, gram_hash) DISTINCT sketch rows — the shape both pair
    consumers (dedup_substring, decontaminate) immediately reduce the
    full sketch to. Emitting per-doc unique hashes straight from the
    kernel is GLOBALLY distinct (each doc lives in exactly one kernel
    row), so the consumers' ``.distinct()`` exchange disappears
    entirely — same row set, one less full shuffle."""
    from pyspark.sql.types import LongType, StructField, StructType

    schema = StructType([
        StructField("doc_id", LongType(), True),
        StructField("gram_hash", LongType(), True),
    ])
    src = docs.select("doc_id", "text")
    k, w, m_mod, field = WINNOW_K, WINNOW_W, _WINNOW_M, _WINNOW_POS_FIELD

    def kern(batches):
        import numpy as np
        import pandas as pd
        from numpy.lib.stride_tricks import sliding_window_view

        wts = np.array(
            [pow(131, k - 1 - i, m_mod) for i in range(k)], dtype=np.int64
        )
        for pdf in batches:
            ids_out, hash_out = [], []
            for did, text in zip(pdf["doc_id"], pdf["text"]):
                if text is None or len(text) < k:
                    continue
                cps = np.frombuffer(
                    text.encode("utf-32-le"), dtype=np.uint32
                ).astype(np.int64)
                g = (
                    (sliding_window_view(cps % m_mod, k) * wts[None, :])
                    % m_mod
                ).sum(axis=1) % m_mod
                n = len(g)
                pack = g * field + np.arange(n, dtype=np.int64)
                suf = np.minimum.accumulate(pack[::-1])[::-1]
                if n >= w:
                    full = sliding_window_view(pack, w).min(axis=1)
                    mins = np.concatenate([full, suf[n - w + 1:]])
                else:
                    mins = suf
                u = np.unique(mins // field)  # distinct HASHES per doc
                ids_out.append(np.full(len(u), did, dtype=np.int64))
                hash_out.append(u)
            if ids_out:
                yield pd.DataFrame({
                    "doc_id": np.concatenate(ids_out),
                    "gram_hash": np.concatenate(hash_out),
                })

    return src.mapInPandas(kern, schema)


def _winnow_sketch_cte(table: str) -> str:
    """DuckDB CTE pair (g, wm) computing the winnowing pack minima of
    ``table`` — shared by the sketch oracle and its pair-consumer."""
    return f"""g AS (
  SELECT doc_id, pos,
         CAST({_winnow_hash_sql()} AS BIGINT) * {_WINNOW_POS_FIELD} + pos AS pack
  FROM (
    SELECT doc_id, text, unnest(range(0, length(text) - {WINNOW_K} + 1)) AS pos
    FROM {table} WHERE length(text) >= {WINNOW_K}
  )
),
wm AS (
  SELECT DISTINCT doc_id,
         min(pack) OVER (PARTITION BY doc_id ORDER BY pos
                         ROWS BETWEEN CURRENT ROW AND {WINNOW_W - 1} FOLLOWING)
           AS m
  FROM g
)"""


ORACLE["doc_winnowing"] = f"""
WITH {_winnow_sketch_cte("documents")}
SELECT doc_id, CAST(m % {_WINNOW_POS_FIELD} AS INT) AS gram_pos,
       CAST(m // {_WINNOW_POS_FIELD} AS BIGINT) AS gram_hash
FROM wm
"""


ORACLE["dedup_substring"] = f"""{_D},
{_winnow_sketch_cte("docs_dup")},
sk AS (
  SELECT DISTINCT doc_id, CAST(m // {_WINNOW_POS_FIELD} AS BIGINT) AS gram_hash
  FROM wm
),
kept AS (
  SELECT doc_id, gram_hash FROM (
    SELECT doc_id, gram_hash,
           count(*) OVER (PARTITION BY gram_hash) AS dfreq
    FROM sk
  ) WHERE dfreq <= {SUBSTR_DF_CAP}
),
skn AS (
  SELECT doc_id, gram_hash,
         count(*) OVER (PARTITION BY doc_id) AS n
  FROM kept
),
agg AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         CAST(count(*) AS BIGINT) AS shared_fps,
         max(a.n) AS na, max(b.n) AS nb
  FROM skn a JOIN skn b ON a.gram_hash = b.gram_hash AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT id_a, id_b, shared_fps,
       round(CAST(shared_fps AS DOUBLE) / least(na, nb), 9) AS coverage
FROM agg
WHERE round(CAST(shared_fps AS DOUBLE) / least(na, nb), 9) >= {SUBSTR_TAU}
"""


ORACLE["decontaminate"] = f"""
WITH {_winnow_sketch_cte("documents")},
sk AS (
  SELECT DISTINCT doc_id, CAST(m // {_WINNOW_POS_FIELD} AS BIGINT) AS gram_hash
  FROM wm
),
kept AS (
  SELECT doc_id, gram_hash FROM (
    SELECT doc_id, gram_hash,
           count(*) OVER (PARTITION BY gram_hash) AS dfreq
    FROM sk
  ) WHERE dfreq <= {SUBSTR_DF_CAP}
),
ev AS (
  SELECT doc_id AS eval_id, gram_hash,
         count(*) OVER (PARTITION BY doc_id) AS ne
  FROM kept WHERE doc_id % {EVAL_MOD} = 0
),
tr AS (SELECT doc_id, gram_hash FROM kept WHERE doc_id % {EVAL_MOD} <> 0),
agg AS (
  SELECT tr.doc_id, ev.eval_id, CAST(count(*) AS BIGINT) AS shared_fps,
         max(ev.ne) AS ne
  FROM tr JOIN ev USING (gram_hash) GROUP BY 1, 2
)
SELECT doc_id, eval_id, shared_fps,
       round(CAST(shared_fps AS DOUBLE) / ne, 9) AS coverage
FROM agg WHERE round(CAST(shared_fps AS DOUBLE) / ne, 9) >= {DECON_TAU}
"""



# --------------------------------------------------------------------------
# Training-mix assembly: deterministic stratified quota sampling. Strata =
# language; per-stratum quota = the mixture weights a curation pipeline
# dials (e.g. upsample en, cap zh). Selection is hash-ranked — the
# row_number over md5('mix|' || doc_id) picks a uniform, seed-stable
# pseudo-random quota per stratum with NO sampleBy nondeterminism, so the
# same mix reproduces bit-identically on any cluster/partitioning.
# --------------------------------------------------------------------------

MIX_QUOTAS = {"en": 60, "de": 25, "fr": 20, "es": 20, "zh": 15}
_MIX_SALT_N = 16


def _mix_rank_key():
    return F.md5(F.concat(F.lit("mix|"), F.col("doc_id").cast("string")))


def _stratified_quota(
    df: DataFrame, stratum: str, quota: F.Column, key_prefix: str
) -> DataFrame:
    """Deterministic per-stratum top-quota under a hash order, scale-safe.

    A naive row_number over Window.partitionBy(stratum) hands an ENTIRE
    stratum ('en' is ~40% of a 100 TB corpus) to one task. Instead:
    pass 1 takes the per-(stratum, salt) local top-quota (16-way salted —
    each task sorts ~1/16th of a stratum and emits <= quota rows); pass 2
    ranks only the <= 16*quota survivors per stratum. Global top-quota
    rows are each in their salt-partition's local top-quota, so the
    result — and the final rank — is provably identical to the direct
    window (pytest asserts equality), while the widest per-task sort is
    bounded. Appends column ``rk``."""
    key = F.md5(F.concat(F.lit(key_prefix), F.col("doc_id").cast("string")))
    salted = df.withColumn(
        "_salt", F.pmod(F.xxhash64("doc_id"), F.lit(_MIX_SALT_N))
    )
    w1 = Window.partitionBy(stratum, "_salt").orderBy(
        key.asc(), F.col("doc_id").asc()
    )
    local = (
        salted.withColumn("_lr", F.row_number().over(w1))
        .filter(F.col("_lr") <= quota)
    )
    w2 = Window.partitionBy(stratum).orderBy(key.asc(), F.col("doc_id").asc())
    return (
        local.withColumn("rk", F.row_number().over(w2))
        .filter(F.col("rk") <= quota)
        .drop("_salt", "_lr")
    )


def q_mix_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted training-mix sample: top-quota rows per language stratum
    under a deterministic hash order (see _stratified_quota for the
    scale-safe two-pass shape)."""
    derived.register_derived_views(spark, sf_dir)
    docs = spark.table("documents")
    quota = None
    for lang, q in MIX_QUOTAS.items():
        cond = F.when(F.col("lang") == lang, F.lit(q))
        quota = cond if quota is None else quota.when(F.col("lang") == lang, F.lit(q))
    quota = quota.otherwise(F.lit(0))
    out = _stratified_quota(docs, "lang", quota, "mix|")
    return out.select("doc_id", "lang", F.col("rk").cast("int").alias("rk"))


MIXA_QUALITY_TAU = 0.1  # quality_score gate (median of the corpus ~0.108)
# per-domain weights: even-numbered sources upsampled 2x (dialect-shared)
_MIXA_QUOTA_SQL = (
    "CASE WHEN CAST(substr(source, 4) AS INT) % 2 = 0 THEN 8 ELSE 4 END"
)


def q_mix_assembly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """END-TO-END training-mix assembly — the curation chain a 100 TB
    pipeline ships, as ONE declarative plan: (1) exact-dedup survivors
    (min-doc_id keeper per md5(text) group, window form — no join),
    (2) quality gate (the q_text_quality score >= MIXA_QUALITY_TAU),
    (3) per-SOURCE weighted quotas (even-numbered domains upsampled 2x)
    via the same scale-safe two-pass stratified sampler as mix_sample.
    Output: (doc_id, source, lang, rk) — the reproducible mix manifest.

    Driver-gate note: the registry is capped at 50 recorded entries, so
    this composite lives in the RETIRED set — oracle parity runs in
    tests/test_oracle_text.py instead (same check, same sf)."""
    docs = _docs(spark, sf_dir)
    keeper = F.min("doc_id").over(Window.partitionBy(F.md5("text")))
    surv = (
        docs.withColumn("_keep", keeper)
        .filter(F.col("doc_id") == F.col("_keep"))
        .drop("_keep")
    )
    w = T.words_expr(F.col("text"))
    n_words = F.size(w)
    stop_ratio = T.stopword_count_expr(w) / n_words.cast("double")
    score = F.round(
        stop_ratio * 0.4 + F.least(n_words, F.lit(400)) / F.lit(400.0) * 0.6, 6
    )
    gated = surv.filter(score >= MIXA_QUALITY_TAU)
    out = _stratified_quota(gated, "source", F.expr(_MIXA_QUOTA_SQL), "mixa|")
    return out.select(
        "doc_id", "source", "lang", F.col("rk").cast("int").alias("rk")
    )


_MIX_QUOTA_CASE = (
    "CASE "
    + " ".join(f"WHEN lang = '{k}' THEN {v}" for k, v in MIX_QUOTAS.items())
    + " ELSE 0 END"
)

ORACLE["mix_assembly"] = f"""{_D},
surv AS (
  SELECT doc_id, text, lang, source FROM (
    SELECT doc_id, text, lang, source,
           min(doc_id) OVER (PARTITION BY md5(text)) AS keeper
    FROM docs_dup
  ) WHERE doc_id = keeper
),
base AS (SELECT doc_id, lang, source, {_WORDS} AS w FROM surv),
gated AS (
  SELECT doc_id, lang, source FROM base
  WHERE round(len(list_filter(w, x -> x IN {_STOP_IN}))
              / CAST(len(w) AS DOUBLE) * 0.4
        + least(len(w), 400) / 400.0 * 0.6, 6) >= {MIXA_QUALITY_TAU}
),
ranked AS (
  SELECT doc_id, lang, source,
         row_number() OVER (
           PARTITION BY source
           ORDER BY md5('mixa|' || CAST(doc_id AS VARCHAR)) ASC, doc_id ASC
         ) AS rk
  FROM gated
)
SELECT doc_id, source, lang, CAST(rk AS INT) AS rk
FROM ranked WHERE rk <= {_MIXA_QUOTA_SQL}
"""

ORACLE["mix_sample"] = f"""
WITH ranked AS (
  SELECT doc_id, lang,
         row_number() OVER (
           PARTITION BY lang
           ORDER BY md5('mix|' || CAST(doc_id AS VARCHAR)) ASC, doc_id ASC
         ) AS rk
  FROM documents
)
SELECT doc_id, lang, CAST(rk AS INT) AS rk
FROM ranked WHERE rk <= {_MIX_QUOTA_CASE}
"""


# --------------------------------------------------------------------------
# pack_sequences: concat-and-chunk context packing (GPT-style pretraining
# batch assembly). Documents are hash-sharded into bounded streams, each
# stream's text is (logically) concatenated in doc_id order, and the token
# stream is cut every PACK_L tokens; the output maps every document to the
# context chunk(s) its tokens land in. The whole op is window-cumsum +
# sequence-explode — no UDF, no driver loop.
#
# Scale: a naive global concat order serializes the corpus through one
# window task. Real packers pack per shard (order across shards is not
# semantically meaningful — only WITHIN a context window), so the stream
# key is (lang, md5-shard): per-task window state is ~|corpus|/(|lang| *
# PACK_SHARDS) and PACK_SHARDS is raised proportionally at 100 TB. The
# shard hash is deterministic md5 (dialect-shared), so the packing
# manifest reproduces bit-identically on any cluster size/partitioning.
# --------------------------------------------------------------------------

PACK_L = 64  # context length in ws-tokens (docs here are ~8..90 tokens)
PACK_SHARDS = 4  # streams per language; the 100 TB knob


def q_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document context-chunk spans: (doc_id, lang, shard, chunk,
    pos0, seg_tok) — doc's tokens occupy [pos0, pos0+seg_tok) of chunk
    ``chunk`` in its (lang, shard) stream. sum(seg_tok) == total tokens;
    every chunk except a stream's last is exactly PACK_L full."""
    derived.register_derived_views(spark, sf_dir)
    docs = spark.table("documents")
    shard_hex = "md5(concat('pack|', CAST(doc_id AS STRING)))"
    d = docs.select(
        "doc_id",
        "lang",
        F.size(T.words_expr(F.col("text"))).cast("long").alias("ntok"),
        (F.expr(hexn_to_bigint(shard_hex, 4, "spark")) % PACK_SHARDS)
        .cast("int")
        .alias("shard"),
    )
    w = (
        Window.partitionBy("lang", "shard")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    d = (
        d.withColumn("end_tok", F.sum("ntok").over(w))
        .withColumn("start_tok", F.col("end_tok") - F.col("ntok"))
        .withColumn("first_c", F.floor(F.col("start_tok") / PACK_L))
        .withColumn("last_c", F.floor((F.col("end_tok") - 1) / PACK_L))
        .withColumn("chunk", F.explode(F.sequence("first_c", "last_c")))
    )
    lo = F.greatest(F.col("start_tok"), F.col("chunk") * PACK_L)
    hi = F.least(F.col("end_tok"), (F.col("chunk") + 1) * PACK_L)
    return d.select(
        "doc_id",
        "lang",
        "shard",
        F.col("chunk").cast("long").alias("chunk"),
        (lo - F.col("chunk") * PACK_L).cast("int").alias("pos0"),
        (hi - lo).cast("int").alias("seg_tok"),
    )


_PACK_SHARD_DUCK = hexn_to_bigint(
    "md5('pack|' || CAST(doc_id AS VARCHAR))", 4, "duckdb"
)

ORACLE["pack_sequences"] = f"""
WITH base AS (
  SELECT doc_id, lang,
         CAST(len({_WORDS}) AS BIGINT) AS ntok,
         CAST({_PACK_SHARD_DUCK} % {PACK_SHARDS} AS INT) AS shard
  FROM documents
),
cum AS (
  SELECT doc_id, lang, ntok, shard,
         CAST(sum(ntok) OVER (
           PARTITION BY lang, shard ORDER BY doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
         ) AS BIGINT) AS end_tok
  FROM base
),
span AS (
  SELECT doc_id, lang, shard, end_tok, end_tok - ntok AS start_tok,
         (end_tok - ntok) // {PACK_L} AS first_c,
         (end_tok - 1) // {PACK_L} AS last_c
  FROM cum
),
chunks AS (
  SELECT doc_id, lang, shard, end_tok, start_tok,
         first_c + unnest(range(0, last_c - first_c + 1)) AS chunk
  FROM span
)
SELECT doc_id, lang, shard, CAST(chunk AS BIGINT) AS chunk,
       CAST(greatest(start_tok, chunk * {PACK_L}) - chunk * {PACK_L} AS INT)
         AS pos0,
       CAST(least(end_tok, (chunk + 1) * {PACK_L})
            - greatest(start_tok, chunk * {PACK_L}) AS INT) AS seg_tok
FROM chunks
"""


QUERIES = {
    "dedup_exact": q_dedup_exact,
    "token_count": q_token_count,
    "text_quality": q_text_quality,
    "lang_id": q_lang_id,
    "doc_fingerprint": q_doc_fingerprint,
    "doc_winnowing": q_doc_winnowing,
    "dedup_substring": q_dedup_substring,
    "decontaminate": q_decontaminate,
    "mix_sample": q_mix_sample,
    "mix_assembly": q_mix_assembly,
    "pack_sequences": q_pack_sequences,
    "dedup_minhash_lsh": q_dedup_minhash_lsh,
    "dedup_jaccard": q_dedup_jaccard,
    "dedup_components": q_dedup_components,
    "dedup_simhash": q_dedup_simhash,
    "doc_tfidf": q_doc_tfidf,
    "distinct_kmv": q_distinct_kmv,
    "neardup_embedding": q_neardup_embedding,
    "ann_topk": q_ann_topk,
}
