"""Deduplication: exact, MinHash+LSH, SimHash, n-gram Jaccard.

Scale design notes (the point of each op is the shuffle shape):

- exact: one hash-groupBy; map-side partial agg; no skew (md5 uniform).
- minhash LSH: per-doc signatures are computed WITHOUT exploding
  (shingles × H) rows — each shingle row carries an array of H hashes and
  the groupBy reduces them elementwise (H min-aggs, partial-agg friendly).
  Banding self-join joins on (band_id, band_hash): bucket sizes are tiny by
  construction, so the join is skew-free even on 10^12 docs.
- simhash: 64 weighted bit-sums per doc via one explode + groupBy; near-dup
  pairs via 4×16-bit band join (any exact-match band → candidate), verified
  by full hamming distance, all JVM-side (no UDF at all).
- n-gram Jaccard: shingle-inverted-index join with document-frequency capping
  (drop shingles appearing in > max_shingle_df docs — same hot-key discipline
  as the index builder's salting).

All hashes are xxhash64 (JVM, fast).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def exact_duplicates(
    df: DataFrame, cols: list[str], id_col: str = "doc_id"
) -> DataFrame:
    """Groups of exact duplicates over `cols` → (dup_hash, n_dups, keep_id,
    member_ids). keep_id = min id (deterministic survivor)."""
    h = F.md5(F.concat_ws("\x1f", *[F.col(c).cast("string") for c in cols]))
    return (
        df.withColumn("dup_hash", h)
        .groupBy("dup_hash")
        .agg(
            F.count("*").alias("n_dups"),
            F.min(id_col).alias("keep_id"),
            F.sort_array(F.collect_list(id_col)).alias("member_ids"),
        )
        .filter(F.col("n_dups") > 1)
    )


def dedupe_exact(df: DataFrame, cols: list[str], id_col: str = "doc_id") -> DataFrame:
    """Keep one row (min id) per exact-duplicate group — the upsert/dedupe
    primitive (same shape as the index builder's keep-latest window)."""
    h = F.md5(F.concat_ws("\x1f", *[F.col(c).cast("string") for c in cols]))
    w = Window.partitionBy(h).orderBy(F.col(id_col).asc())
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


def shingles(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
) -> DataFrame:
    """(id, shingle) — distinct k-token shingles, tokenized simple+lower."""
    toks = F.filter(
        F.split(F.lower(F.col(text_col)), r"[^\p{L}\p{N}]+"),
        lambda t: t != "",
    )
    # NB: sequence(1, 0) in Spark is the DESCENDING [1, 0] — a doc with
    # fewer than k tokens must yield [], not a slice(start=0) crash, so the
    # index list is built by filtering an always-ascending sequence.
    sh = F.transform(
        F.filter(
            F.sequence(F.lit(1), F.greatest(F.size(toks), F.lit(1))),
            lambda i: i <= F.size(toks) - (k - 1),
        ),
        lambda i: F.concat_ws(" ", F.slice(toks, i, k)),
    )
    return (
        df.select(F.col(id_col).alias("id"), F.explode(sh).alias("shingle"))
        .distinct()
    )


DECON_BROADCAST_MAX = 5_000_000  # distinct benchmark grams


def decontaminate(
    df: DataFrame,
    benchmark: DataFrame,
    n: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
    bench_id_col: str = "doc_id",
    bench_text_col: str = "text",
    bench_gram_count: int | None = None,
) -> DataFrame:
    """Benchmark decontamination: per doc, the number of DISTINCT word
    n-grams it shares with a benchmark/eval corpus (the standard
    train-set-contamination check before pretraining).

    Returns (doc_id, n_hits, contaminated[0/1]) for EVERY input doc —
    zero-hit docs are kept so the result can drive a filter join.

    Scale shape: both sides reduce to DISTINCT n-gram sets (shingles());
    the join runs on the gram string. Benchmark corpora are small relative
    to the training corpus, so the gram set is broadcast — but only below
    DECON_BROADCAST_MAX distinct grams (same discipline as the unigram
    vocab gate): pass `bench_gram_count` if known, else one count() job
    measures it; above the gate it falls back to a plain shuffle join.
    """
    doc_sh = shingles(df, id_col=id_col, text_col=text_col, k=n)
    bench_sh = (
        shingles(benchmark, id_col=bench_id_col, text_col=bench_text_col, k=n)
        .select("shingle")
        .distinct()
    )
    cnt = bench_gram_count if bench_gram_count is not None else bench_sh.count()
    right = F.broadcast(bench_sh) if cnt <= DECON_BROADCAST_MAX else bench_sh
    hits = (
        doc_sh.join(right, "shingle")
        .groupBy("id")
        .agg(F.count("*").alias("n_hits"))
        .withColumnRenamed("id", "doc_id")
    )
    return (
        df.select(F.col(id_col).alias("doc_id"))
        .join(hits, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_hits", F.lit(0)).cast("long").alias("n_hits"),
            (F.coalesce("n_hits", F.lit(0)) > 0).cast("int").alias("contaminated"),
        )
    )


PARA_DUP_BROADCAST_MAX = 5_000_000  # duplicated-paragraph hashes


def paragraph_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    sep: str = "\n\n",
    max_count: int = 1,
    dup_count: int | None = None,
    measure_dups: bool = True,
) -> DataFrame:
    """Corpus-level duplicate-paragraph removal (the CCNet / RefinedWeb
    line-dedup stage): split every document on `sep`, count each exact
    paragraph string across the WHOLE corpus, drop paragraphs whose count
    exceeds `max_count` (default 1 — any paragraph appearing twice
    anywhere is boilerplate and every copy goes), and reassemble the
    survivors in original order.

    Returns (doc_id, text_clean, n_paras, n_removed) for EVERY input doc —
    a doc whose paragraphs were all removed keeps its row with empty text,
    so the op composes with downstream filters.

    Scale shape (round 7 — the guide-§8 proxy shape: decide with small
    rows, move heavy bytes once): the corpus-wide count runs on the
    paragraphs' md5 hashes, so its shuffle carries 32-byte keys with
    map-side partial agg, never paragraph text; only hashes whose count
    exceeds ``max_count`` survive (the boilerplate set — tiny relative
    to the corpus), and that DUP SET is broadcast back onto the
    paragraph stream (size-gated at PARA_DUP_BROADCAST_MAX; above it, a
    plain hash join with AQE skew splitting). Full text therefore
    crosses the network exactly ONCE — in the per-doc reassembly groupBy
    — where the old shape shuffled paragraph strings three times (count
    groupBy, count join, reassembly). When ``dup_count`` is unknown, one
    count() job measures the dup set; the filtered (tiny) dup frame is
    persisted around that count so the measuring pass is not recomputed
    by the main query (the cache lives until session end / LRU eviction
    — callers invoking this repeatedly in one long session should pass
    ``dup_count`` to skip both the job and the persist).
    ``measure_dups=False`` skips the measuring job entirely: plan
    construction stays action-free (the pipeline composer's contract)
    and the explicit broadcast hint is dropped — with AQE on, the join
    still converts to a runtime broadcast when the dup set's REAL
    materialized size is small, and otherwise takes the plain 32-byte
    hash-key join. md5 (128-bit) keys keep collision probability
    negligible at any corpus size (the same discipline as span_dedup's
    window hashes). Reassembly sorts the (pos, para) structs inside each
    doc's collected array — per-doc memory, bounded by document size,
    never corpus size.
    """
    paras = df.select(
        F.col(id_col).alias("doc_id"),
        F.posexplode(F.split(F.col(text_col), sep)).alias("pos", "para"),
    )
    dup = (
        paras.groupBy(F.md5("para").alias("h"))
        .agg(F.count("*").alias("cnt"))
        .where(F.col("cnt") > max_count)
        .select("h")
    )
    if dup_count is not None:
        right = (
            F.broadcast(dup) if dup_count <= PARA_DUP_BROADCAST_MAX else dup
        )
    elif measure_dups:
        dup = dup.persist()
        n_dup = dup.count()
        right = F.broadcast(dup) if n_dup <= PARA_DUP_BROADCAST_MAX else dup
    else:
        right = dup  # AQE decides from runtime sizes; no action, no hint
    tagged = (
        paras.withColumn("h", F.md5("para"))
        .join(right.withColumn("_dup", F.lit(1)), "h", "left")
        .select(
            "doc_id",
            "pos",
            "para",
            F.coalesce(F.col("_dup"), F.lit(0)).alias("dup"),
        )
    )
    return (
        tagged.groupBy("doc_id")
        .agg(
            F.array_sort(
                F.collect_list(F.struct("pos", "para", "dup"))
            ).alias("ps")
        )
        .select(
            "doc_id",
            F.array_join(
                F.transform(
                    F.filter("ps", lambda x: x["dup"] == 0),
                    lambda x: x["para"],
                ),
                sep,
            ).alias("text_clean"),
            F.size("ps").cast("long").alias("n_paras"),
            F.size(F.filter("ps", lambda x: x["dup"] == 1))
            .cast("long")
            .alias("n_removed"),
        )
    )


def span_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 50,
) -> DataFrame:
    """Substring-level exact dedup (Lee et al. 2021, "Deduplicating
    Training Data Makes Language Models Better"): remove every
    corpus-duplicated span of >= `n` whitespace tokens, keeping exactly
    one copy — the occurrence with the globally smallest (doc_id,
    position), so the op is deterministic and replayable.

    Semantics: tokens are the non-empty whitespace splits of the text;
    every length-`n` token window is hashed; a window occurrence is
    MARKED when the same window appears elsewhere in the corpus and this
    occurrence is not the (doc_id, pos)-minimal one; a token is removed
    when ANY marked window covers it (overlapping marked windows merge
    into maximal removed spans for free). Output text re-joins surviving
    tokens with single spaces — whitespace is normalized, which is the
    accepted cost of span surgery. Returns (doc_id, text_clean,
    n_tokens, n_removed) for EVERY input doc.

    Scale shape: ONE posexplode of per-doc window hashes (rows ~= corpus
    token count — linear, never pairwise) -> ONE hash groupBy for
    (count, argmin) with map-side partial agg -> ONE join back on the
    hash RESTRICTED to duplicated hashes (typically a tiny fraction; a
    billion-copy boilerplate window is one hot join key, which AQE's
    skew-join splits) -> ONE per-doc groupBy of marked positions -> ONE
    join onto the doc frame. Token removal is an array filter against
    the doc's own marked-position list: per-doc memory, bounded by doc
    length, never corpus size. All JVM expressions — no Python anywhere.

    The gate twin in __spark_entry__ replays the md5 window hash, the
    row_number keep-first rule and the coverage filter verbatim in
    DuckDB, so results are bit-compared.
    """
    toks = F.filter(F.split(F.col(text_col), r"\s+"), lambda t: t != "")
    base = df.select(
        F.col(id_col).alias("doc_id"),
        F.coalesce(toks, F.array().cast("array<string>")).alias("toks"),
    )
    win = base.where(F.size("toks") >= n).select(
        "doc_id",
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), F.size("toks") - n),
                lambda i: F.md5(
                    F.concat_ws(" ", F.slice("toks", i + 1, F.lit(n)))
                ),
            )
        ).alias("pos", "h"),
    )
    dup = (
        win.groupBy("h")
        .agg(
            F.count("*").alias("cnt"),
            F.min(F.struct("doc_id", "pos")).alias("first"),
        )
        .where(F.col("cnt") > 1)
    )
    marked = (
        win.join(dup, "h")
        .where(
            ~(
                (F.col("doc_id") == F.col("first.doc_id"))
                & (F.col("pos") == F.col("first.pos"))
            )
        )
        .groupBy("doc_id")
        .agg(F.collect_list("pos").alias("mpos"))
    )
    kept = F.filter(
        F.transform("toks", lambda t, i: F.struct(t.alias("t"), i.alias("i"))),
        lambda s: ~F.exists(
            "mpos", lambda p: (p <= s["i"]) & (s["i"] < p + n)
        ),
    )
    return (
        base.join(marked, "doc_id", "left")
        .withColumn(
            "mpos", F.coalesce("mpos", F.array().cast("array<int>"))
        )
        .select(
            "doc_id",
            F.array_join(
                F.transform(kept, lambda s: s["t"]), " "
            ).alias("text_clean"),
            F.size("toks").cast("long").alias("n_tokens"),
            (F.size("toks") - F.size(kept)).cast("long").alias("n_removed"),
        )
    )


def minhash_signatures(
    sh: DataFrame, num_hashes: int = 64, seed: int = 42
) -> DataFrame:
    """(id, h0..h{H-1}) — elementwise-min of per-shingle hash arrays.

    h_i(s) = xxhash64(i-th salt, s); no row explosion: one array column,
    H partial-aggregating mins.
    """
    hashes = F.array(
        *[
            F.xxhash64(F.lit(f"{seed}:{i}"), F.col("shingle"))
            for i in range(num_hashes)
        ]
    )
    with_h = sh.withColumn("hs", hashes)
    aggs = [
        F.min(F.element_at("hs", i + 1)).alias(f"h{i}")
        for i in range(num_hashes)
    ]
    return with_h.groupBy("id").agg(*aggs)


def lsh_candidate_pairs(
    signatures: DataFrame, bands: int = 16, rows_per_band: int = 4
) -> DataFrame:
    """(id_a, id_b) candidate near-dup pairs: equal signature slice in ≥1 band."""
    num_hashes = bands * rows_per_band
    band_structs = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.xxhash64(
                    *[
                        F.col(f"h{b * rows_per_band + r}")
                        for r in range(rows_per_band)
                    ]
                ).alias("key"),
            )
            for b in range(bands)
        ]
    )
    missing = [f"h{i}" for i in range(num_hashes) if f"h{i}" not in signatures.columns]
    if missing:
        raise ValueError(f"signatures missing columns {missing[:3]}...")
    banded = signatures.select(
        "id", F.explode(band_structs).alias("bk")
    ).select("id", F.col("bk.band").alias("band"), F.col("bk.key").alias("key"))
    a = banded.alias("a")
    b = banded.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.key") == F.col("b.key"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .distinct()
    )


def jaccard_verify(
    pairs: DataFrame, sh: DataFrame, threshold: float = 0.7
) -> DataFrame:
    """Exact Jaccard on candidate pairs → (id_a, id_b, jaccard ≥ threshold)."""
    sizes = sh.groupBy("id").agg(F.count("*").alias("n"))
    # count common shingles via double join on shingle
    a = sh.select(F.col("id").alias("id_a"), "shingle")
    b = sh.select(F.col("id").alias("id_b"), "shingle")
    common = (
        pairs.join(a, "id_a").join(b, ["id_b", "shingle"])
        .groupBy("id_a", "id_b")
        .agg(F.count("*").alias("inter"))
    )
    na = sizes.select(F.col("id").alias("id_a"), F.col("n").alias("n_a"))
    nb = sizes.select(F.col("id").alias("id_b"), F.col("n").alias("n_b"))
    return (
        common.join(na, "id_a")
        .join(nb, "id_b")
        .select(
            "id_a",
            "id_b",
            (
                F.col("inter")
                / (F.col("n_a") + F.col("n_b") - F.col("inter"))
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


def minhash_dedup_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_k: int = 3,
    num_hashes: int = 64,
    bands: int = 16,
    threshold: float = 0.7,
    seed: int = 42,
) -> DataFrame:
    """Full MinHash-LSH pipeline: shingle → sign → band → verify."""
    sh = shingles(df, id_col, text_col, shingle_k)
    sigs = minhash_signatures(sh, num_hashes, seed)
    cand = lsh_candidate_pairs(sigs, bands, num_hashes // bands)
    return jaccard_verify(cand, sh, threshold)


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    threshold: float = 0.5,
    max_shingle_df: int = 1000,
) -> DataFrame:
    """Exact n-gram Jaccard via shingle inverted index, hot shingles capped
    (a shingle in >max_shingle_df docs contributes O(df²) pairs — drop it,
    as near-dup pairs always share rarer shingles too)."""
    sh = shingles(df, id_col, text_col, k)
    df_cap = (
        sh.groupBy("shingle")
        .agg(F.count("*").alias("sdf"))
        .filter(F.col("sdf") <= max_shingle_df)
        .select("shingle")
    )
    sh_kept = sh.join(df_cap, "shingle")
    a = sh_kept.select(F.col("id").alias("id_a"), "shingle")
    b = sh_kept.select(F.col("id").alias("id_b"), "shingle")
    common = (
        a.join(b, "shingle")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count("*").alias("inter"))
    )
    sizes = sh.groupBy("id").agg(F.count("*").alias("n"))
    na = sizes.select(F.col("id").alias("id_a"), F.col("n").alias("n_a"))
    nb = sizes.select(F.col("id").alias("id_b"), F.col("n").alias("n_b"))
    return (
        common.join(na, "id_a")
        .join(nb, "id_b")
        .select(
            "id_a", "id_b",
            (F.col("inter") / (F.col("n_a") + F.col("n_b") - F.col("inter")))
            .alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


def simhash(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """(id, simhash) — 64-bit SimHash over tf-weighted token hashes,
    entirely JVM expressions (explode → 64 conditional sums → bit pack)."""
    toks = (
        df.select(
            F.col(id_col).alias("id"),
            F.explode(
                F.filter(
                    F.split(F.lower(F.col(text_col)), r"[^\p{L}\p{N}]+"),
                    lambda t: t != "",
                )
            ).alias("term"),
        )
        .groupBy("id", "term")
        .agg(F.count("*").alias("tf"))
        .withColumn("th", F.xxhash64("term"))
    )
    bit_sums = [
        F.sum(
            F.when(
                F.shiftright(F.col("th"), i).bitwiseAND(F.lit(1)) == 1,
                F.col("tf"),
            ).otherwise(-F.col("tf"))
        ).alias(f"b{i}")
        for i in range(64)
    ]
    sums = toks.groupBy("id").agg(*bit_sums)
    packed = None
    for i in range(64):
        bit = F.when(F.col(f"b{i}") > 0, F.lit(1).cast("long")).otherwise(
            F.lit(0).cast("long")
        )
        contrib = F.shiftleft(bit, i)
        packed = contrib if packed is None else packed.bitwiseXOR(contrib)
    return sums.select("id", packed.alias("simhash"))


def simhash_near_pairs(
    sigs: DataFrame, max_hamming: int = 3
) -> DataFrame:
    """(id_a, id_b, hamming) — candidates via 4×16-bit bands (a pair within
    hamming ≤ 3 of 64 bits must match at least one 16-bit quarter exactly),
    verified by popcount. JVM-only."""
    quarters = F.array(
        *[
            F.struct(
                F.lit(q).alias("band"),
                F.shiftright(F.col("simhash"), q * 16)
                .bitwiseAND(F.lit(0xFFFF))
                .alias("key"),
            )
            for q in range(4)
        ]
    )
    banded = sigs.select(
        "id", "simhash", F.explode(quarters).alias("bk")
    ).select(
        "id", "simhash",
        F.col("bk.band").alias("band"), F.col("bk.key").alias("key"),
    )
    a = banded.alias("a")
    b = banded.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.key") == F.col("b.key"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.col("a.simhash").alias("sh_a"),
            F.col("b.simhash").alias("sh_b"),
        )
        .distinct()
    )
    hamming = F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b")))
    return (
        pairs.select("id_a", "id_b", hamming.alias("hamming"))
        .filter(F.col("hamming") <= max_hamming)
    )


# ------------------------------------------------- dedup-cluster resolution
#
# LSH/simhash/embedding ops above emit near-dup PAIRS; a real pipeline must
# resolve them into CLUSTERS (connected components) and keep one canonical
# doc per cluster. Label propagation converges in O(diameter) rounds — a
# chain of near-dups (A~B~C~...) makes that unbounded — so we use the
# alternating large-star / small-star algorithm (Kiveris et al., "Connected
# Components in MapReduce and Beyond", SoCC 2014): O(log n) rounds, each
# round two groupBy-shuffles on node id with map-side partial aggregation.
# Convergence is detected with a 1-row checksum aggregate per round (no
# edge-list collect); the pair graph from banded LSH is vastly smaller than
# the corpus, so even the worst round is cheap relative to signature build.


def _canonical_edges(pairs: DataFrame, id_a: str, id_b: str) -> DataFrame:
    """Undirected edge list (u, v) — null-free, no self-loops, deduped."""
    e = pairs.select(
        F.col(id_a).alias("u"),
        F.col(id_b).alias("v"),
    ).filter(
        F.col("u").isNotNull() & F.col("v").isNotNull()
        & (F.col("u") != F.col("v"))
    )
    return e.select(
        F.least("u", "v").alias("u"), F.greatest("u", "v").alias("v")
    ).distinct()


def _large_star(edges: DataFrame) -> DataFrame:
    """For each node u: connect every strictly-larger neighbor to
    min(Γ(u) ∪ {u})."""
    nbrs = edges.select("u", "v").union(
        edges.select(F.col("v").alias("u"), F.col("u").alias("v"))
    )
    m = nbrs.groupBy("u").agg(
        F.least(F.min("v"), F.first("u")).alias("m")
    )
    return (
        nbrs.join(m, "u")
        .filter(F.col("v") > F.col("u"))
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )


def _small_star(edges: DataFrame) -> DataFrame:
    """Orient edges large→small; for each node u connect u and all its
    smaller neighbors to min(N(u) ∪ {u})."""
    oriented = edges.select(
        F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
    )
    m = oriented.groupBy("u").agg(F.min("v").alias("m"))
    withm = oriented.join(m, "u")
    to_children = withm.select(F.col("v").alias("u"), F.col("m").alias("v"))
    to_self = m.select(F.col("u"), F.col("m").alias("v"))
    return (
        to_children.union(to_self)
        .filter(F.col("u") != F.col("v"))
        .select(F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v"))
        .distinct()
    )


def connected_components(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iters: int = 25,
) -> DataFrame:
    """(id, cluster_id) for every node that appears in `pairs`, where
    cluster_id = the minimum node id of its connected component.

    Alternating large-star/small-star; terminates when a full round leaves
    the edge set unchanged (1-row count+hash checksum, no collect of the
    edges themselves). max_iters=25 covers graphs up to ~2^25 nodes of
    pathological shape; real LSH graphs converge in ≤5 rounds.

    Reference parity note: the reference engine has no near-dup machinery
    (bayard/src/index — exact doc-id upsert only); this op serves the
    training-data-pipeline surface over the same tables.
    """
    edges = _canonical_edges(pairs, id_a, id_b)
    nodes = (
        edges.select(F.col("u").alias("id"))
        .union(edges.select(F.col("v").alias("id")))
        .distinct()
    )
    def _checksum(e: DataFrame):
        row = e.agg(
            F.count("*").alias("n"),
            F.coalesce(
                F.sum(F.xxhash64("u", "v").cast("decimal(38,0)")),
                F.lit(0).cast("decimal(38,0)"),
            ).alias("h"),
        ).collect()[0]
        return (row["n"], row["h"])

    prev = _checksum(edges)
    if prev[0] == 0:
        return edges.select(
            F.col("u").alias("id"), F.col("u").alias("cluster_id")
        ).limit(0)
    for _ in range(max_iters):
        edges = _small_star(_large_star(edges)).localCheckpoint(eager=True)
        cur = _checksum(edges)
        if cur == prev:
            break
        prev = cur
    else:
        raise RuntimeError(
            f"connected_components did not converge in {max_iters} rounds"
        )
    # fixpoint: edges form stars (child -> component-min root)
    star = edges.select(
        F.greatest("u", "v").alias("id"), F.least("u", "v").alias("cluster_id")
    )
    return nodes.join(star, "id", "left").select(
        "id", F.coalesce("cluster_id", F.col("id")).alias("cluster_id")
    )


def dedup_keep_canonical(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    id_a: str = "id_a",
    id_b: str = "id_b",
) -> DataFrame:
    """df + (cluster_id, kept): resolve near-dup pairs into components and
    keep exactly the minimum-id doc of each cluster (docs in no pair keep
    themselves). Join is a plain shuffle join on id — the cluster map is
    O(|pair nodes|), not O(corpus), so Spark/AQE may broadcast it when small
    but correctness never depends on that."""
    cl = connected_components(pairs, id_a, id_b).withColumnRenamed(
        "id", id_col
    )
    out = df.join(cl, id_col, "left")
    cluster = F.coalesce("cluster_id", F.col(id_col))
    return out.select(
        *[c for c in df.columns],
        cluster.alias("cluster_id"),
        (cluster == F.col(id_col)).alias("kept"),
    )
