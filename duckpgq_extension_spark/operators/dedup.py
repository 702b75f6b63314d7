"""Deduplication operators for 100 TB-scale corpora.

Beyond-reference additions (SURVEY.md §2C / BASELINE.json north star):
exact dedup, MinHash + LSH banding, SimHash, n-gram Jaccard, and
embedding-cosine near-duplicate detection.

Scale design:
- Everything is shuffle-on-key DataFrame composition — no Python UDFs in
  the hot path; hashes are md5-prefix integers computed JVM-side.
- Candidate generation is always *blocked* (shared shingle / LSH band /
  sign-bucket), never an n² cross join; verification runs only on
  candidate pairs.
- `max_doc_freq` drops ultra-common shingles (stopword shingles otherwise
  create quadratic blowup on skewed blocks — the classic MinHash-at-scale
  trap).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions.text import (
    is_simple_ident,
    md5_long,
    md5_long_sql,
    tokens,
    tokens_sql,
    word_ngrams_from_tokens,
    word_ngrams_sql,
)
from . import paths as pathops

# Deterministic permutation constants for MinHash: (a * h + b) mod P over the
# 31-bit reduction of the shingle hash.  Fixed literals so the DuckDB oracle
# can embed the same numbers.
MINHASH_PRIME = 2147483647  # 2^31 - 1

_A0, _A_STEP = 1103515245, 12345
_B0, _B_STEP = 1013904223, 2654435761


def minhash_params(num_perm: int) -> list[tuple[int, int]]:
    return [
        ((_A0 + i * _A_STEP) % MINHASH_PRIME or 1, (_B0 + i * _B_STEP) % MINHASH_PRIME)
        for i in range(num_perm)
    ]


def exact_duplicates(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Exact dedup by content hash: one row per duplicated text with the
    kept (minimum) id, the duplicate count, and the content hash."""
    h = md5_long(F.col(text_col)).alias("content_hash")
    return (
        df.select(F.col(id_col).alias("id"), h)
        .groupBy("content_hash")
        .agg(F.min("id").alias("keep_id"), F.count("*").alias("n_copies"))
        .where(F.col("n_copies") > 1)
    )


def deduplicate_exact(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Keep the minimum-id row per distinct text (hash-groupBy dedup)."""
    w = Window.partitionBy(md5_long(F.col(text_col))).orderBy(F.col(id_col))
    return df.withColumn("__rn", F.row_number().over(w)).where(F.col("__rn") == 1).drop("__rn")


def minhash_hashes31(text: Column, n: int) -> Column:
    """array<long> of 31-bit shingle hashes for one document, computed
    entirely in-row: tokens -> distinct word-n-grams -> md5_long % P.
    The row-local building block behind the shuffle-free signature path
    (and the streaming near-dup operator)."""
    return F.transform(
        F.array_distinct(word_ngrams_from_tokens(tokens(text), n)),
        lambda g: md5_long(g) % MINHASH_PRIME,
    )


def _ident_sql(name: str) -> str:
    return "`" + name.replace("`", "``") + "`"


def _hashes31_sql(text_sql: str, n: int) -> str:
    """SQL form of minhash_hashes31() — same operators, one parse."""
    return (
        f"transform(array_distinct({word_ngrams_sql(tokens_sql(text_sql), n)}), "
        f"g -> {md5_long_sql('g')} % {MINHASH_PRIME})"
    )


def minhash_sig_inrow(text: Column | str, n: int, num_perm: int) -> Column:
    """The full MinHash signature as ONE row-local fold: a single
    `aggregate` over the shingle-hash array maintains all num_perm
    running minima via zip_with against a literal (a, b) parameter
    array.

    Why a fold and not num_perm separate `array_min(transform(...))`
    columns: each of those columns inlines its own copy of the
    tokenize -> shingle -> md5 subtree (Catalyst does not CSE across
    projection expressions), which both re-does the expensive part
    num_perm times and inflates codegen past the JIT limits — measured
    6x slower end-to-end in minhash_lsh_pairs at the 10x tier.  Here
    the shingle pipeline appears exactly once in the expression tree.

    Rows with no shingles keep the MINHASH_PRIME sentinel (unattainable:
    (a*h+b) % P < P), which callers use to drop them.

    Pass the COLUMN NAME (str) where possible: the whole fold then renders
    as one SQL string parsed by a single F.expr (~2 ms) instead of ~0.7 s
    of py4j Column calls; both forms are value-identical (pinned by
    test_sql_rendered_minhash_bit_identical)."""
    if isinstance(text, str) and not is_simple_ident(text):
        # dotted/nested names resolve differently under backtick quoting
        # than under F.col — route them through the Column path (ADVICE r10)
        text = F.col(text)
    if isinstance(text, str):
        params_sql = ",".join(
            f"named_struct('a', {a}, 'b', {b})" for a, b in minhash_params(num_perm)
        )
        init_sql = ",".join([f"CAST({MINHASH_PRIME} AS BIGINT)"] * num_perm)
        return F.expr(
            f"aggregate({_hashes31_sql(_ident_sql(text), n)}, array({init_sql}), "
            f"(acc, h) -> zip_with(acc, array({params_sql}), "
            f"(m, p) -> least(m, (p.a * h + p.b) % {MINHASH_PRIME})))"
        )
    params = F.array(
        *[
            F.struct(F.lit(a).alias("a"), F.lit(b).alias("b"))
            for (a, b) in minhash_params(num_perm)
        ]
    )
    init = F.array(*[F.lit(MINHASH_PRIME).cast("long")] * num_perm)
    return F.aggregate(
        minhash_hashes31(text, n),
        init,
        lambda acc, h: F.zip_with(
            acc,
            params,
            lambda m, p: F.least(m, (p["a"] * h + p["b"]) % MINHASH_PRIME),
        ),
    )


def _shingles(df: DataFrame, id_col: str, text_col: str, n: int, max_doc_freq: int | None):
    sh = (
        df.select(F.col(id_col).alias("id"), tokens(F.col(text_col)).alias("__toks"))
        .select(
            "id",
            F.explode(
                F.array_distinct(word_ngrams_from_tokens(F.col("__toks"), n))
            ).alias("shingle"),
        )
        .withColumn("sh", md5_long(F.col("shingle")))
        .select("id", "sh")
    )
    if max_doc_freq is not None:
        freq = sh.groupBy("sh").agg(F.count("*").alias("df"))
        sh = sh.join(freq.where(F.col("df") <= max_doc_freq).select("sh"), "sh", "left_semi")
    return sh


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    threshold: float = 0.5,
    max_doc_freq: int | None = None,
) -> DataFrame:
    """Exact Jaccard similarity over word-n-gram shingle sets.  Returns
    (id_a, id_b, jaccard) with id_a < id_b and jaccard >= threshold.

    Candidate generation uses *positional prefix filtering* (Bayardo et
    al., "Scaling Up All Pairs Similarity Search", WWW'07): shingles are
    globally ordered rarest-document-frequency-first, and each document
    joins only on its first `sz - ceil(t*sz) + 1` shingles — any pair with
    J >= t must share a shingle inside BOTH prefixes, so the filter is
    lossless, but common shingles (the quadratic-blowup tail) almost never
    land in a prefix.  A length-ratio prune (`t*sz_a <= sz_b`, since
    J <= min/max of the set sizes) runs inside the candidate join.
    Verification is exact: `array_intersect` over the full per-doc shingle
    arrays, so the output is identical to the unfiltered all-pairs result
    and the DuckDB oracle needs no knowledge of the candidate strategy.
    """
    # persist the exploded shingles: they feed BOTH the document-frequency
    # aggregate and the per-doc set build, and the tokenize+shingle+hash
    # projection is the single most expensive expression in the operator
    sh = _shingles(df, id_col, text_col, n, max_doc_freq).persist()
    freq = sh.groupBy("sh").agg(F.count("*").alias("df"))
    # per-doc shingle array in (df asc, sh asc) global order; rarest first
    # minimizes prefix collisions.  The orderable struct sorts by (df, sh).
    sets = (
        sh.join(freq, "sh")
        .groupBy("id")
        .agg(
            F.sort_array(
                F.collect_list(F.struct(F.col("df"), F.col("sh")))
            ).alias("ordered"),
        )
        .select(
            "id",
            F.col("ordered.sh").alias("arr"),
            F.size("ordered").alias("sz"),
        )
        .withColumn(
            "plen",
            F.col("sz") - F.ceil(F.lit(threshold) * F.col("sz")).cast("int") + 1,
        )
        .persist()
    )
    try:
        prefix = sets.select(
            "id", "sz", F.explode(F.slice("arr", 1, F.col("plen"))).alias("sh")
        )
        cands = (
            prefix.alias("l")
            .join(prefix.alias("r"), F.col("l.sh") == F.col("r.sh"))
            .where(
                (F.col("l.id") < F.col("r.id"))
                & (F.lit(threshold) * F.col("l.sz") <= F.col("r.sz"))
                & (F.lit(threshold) * F.col("r.sz") <= F.col("l.sz"))
            )
            .select(F.col("l.id").alias("id_a"), F.col("r.id").alias("id_b"))
            .distinct()
            # width-pin before the array_intersect verify (byte-based AQE
            # coalescing vs CPU-heavy rows; see edit_distance_pairs)
            .repartition(pathops.default_parallelism(df.sparkSession))
        )
        out = (
            cands.join(
                sets.select(F.col("id").alias("id_a"), F.col("arr").alias("arr_a"), F.col("sz").alias("sz_a")),
                "id_a",
            )
            .join(
                sets.select(F.col("id").alias("id_b"), F.col("arr").alias("arr_b"), F.col("sz").alias("sz_b")),
                "id_b",
            )
            .withColumn("shared", F.size(F.array_intersect("arr_a", "arr_b")))
            .select(
                "id_a",
                "id_b",
                F.round(
                    F.col("shared") / (F.col("sz_a") + F.col("sz_b") - F.col("shared")), 6
                ).alias("jaccard"),
            )
            .where(F.col("jaccard") >= threshold)
        )
        out = out.localCheckpoint(eager=True)
        return out
    finally:
        sets.unpersist()
        sh.unpersist()


def _bucket_pairs(
    rows: DataFrame,
    bucket_cols: list[str],
    id_col: str = "id",
    hot_threshold: int = 256,
    chunks: int = 8,
) -> DataFrame:
    """Distinct unordered id pairs sharing a bucket: (id_a < id_b).

    The naive self-join on the bucket key puts a whole bucket's |g|^2
    pair space on ONE reducer — a mass-duplicate corpus (every doc
    identical) turns one LSH band bucket into a single straggler task.
    This splits the work adaptively:
      - buckets with <= hot_threshold members: plain self-join (AQE's
        skew handling covers moderate imbalance);
      - hot buckets: triangle-salted join — each member is assigned a
        chunk c = hash(id) % chunks, the pair space is partitioned into
        chunk cells (ci <= cj), and the join key becomes
        (bucket, ci, cj), so a g-member bucket spreads over
        chunks*(chunks+1)/2 tasks of ~(g/chunks)^2 pairs each.
    The union equals the plain join's pair set exactly (verified in
    tests against 10^3 identical docs).
    """
    sizes = rows.groupBy(*bucket_cols).agg(F.count("*").alias("__g"))
    hot_keys = F.broadcast(
        sizes.where(F.col("__g") > hot_threshold).select(*bucket_cols)
    )
    cold = rows.join(hot_keys, bucket_cols, "left_anti")
    hot = rows.join(hot_keys, bucket_cols, "left_semi").withColumn(
        "__c", F.pmod(F.xxhash64(F.col(id_col)), F.lit(chunks))
    )
    cold_pairs = (
        cold.alias("l")
        .join(cold.alias("r"), bucket_cols)
        .where(F.col(f"l.{id_col}") < F.col(f"r.{id_col}"))
        .select(
            F.col(f"l.{id_col}").alias("id_a"), F.col(f"r.{id_col}").alias("id_b")
        )
    )
    # triangle cells: a pair with chunks (cx, cy), cx <= cy, meets exactly
    # in cell (ci=cx, cj=cy) — the left side explodes its cj upward, the
    # right side its ci downward; same-cell pairs appear in both
    # orientations, least/greatest + distinct canonicalizes
    lhs = hot.withColumn(
        "__cj", F.explode(F.sequence(F.col("__c"), F.lit(chunks - 1)))
    ).withColumnRenamed("__c", "__ci")
    rhs = hot.withColumn(
        "__ci", F.explode(F.sequence(F.lit(0), F.col("__c")))
    ).withColumnRenamed("__c", "__cj")
    hot_pairs = (
        lhs.alias("l")
        .join(rhs.alias("r"), bucket_cols + ["__ci", "__cj"])
        .where(F.col(f"l.{id_col}") != F.col(f"r.{id_col}"))
        .select(
            F.least(F.col(f"l.{id_col}"), F.col(f"r.{id_col}")).alias("id_a"),
            F.greatest(F.col(f"l.{id_col}"), F.col(f"r.{id_col}")).alias("id_b"),
        )
    )
    return cold_pairs.unionByName(hot_pairs).distinct()


def minhash_signatures(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    num_perm: int = 32,
    max_doc_freq: int | None = None,
) -> DataFrame:
    """(id, sig array<long>) MinHash signatures over word-n-gram shingles.

    sig[i] = min over shingles of (a_i * (h % P) + b_i) % P, P = 2^31-1.
    Documents with no shingles are dropped (no signature defined).

    Plan shape: explode + hash-aggregate (one shuffle).  A shuffle-free
    in-row formulation exists (`minhash_sig_inrow`, used by the
    streaming near-dup operator where a shuffle is impossible) and
    computes identical signatures, but measured SLOWER here: Spark's
    higher-order-function lambdas are interpreted, while the
    explode+groupBy pipeline is whole-stage-codegen'd end to end
    (10x-tier A/B: 27 s vs 16 s inside minhash_lsh_pairs; a naive
    16-separate-transforms variant was 6x worse again because each
    column re-inlined the tokenize->shingle->md5 subtree).

    The signature frame is SESSION-CACHED per (input plan, input files,
    n, num_perm, max_doc_freq) — paths.session_cached, shared with the
    adjacency cache: at corpus scale signatures are a standing column
    computed once and consumed by every downstream dedup stage (pair
    generation, clustering, keep-longest, cross-corpus), so within a
    session the tokenize->shingle->min aggregate runs once, not once per
    operator.  A document appended to a local input directory changes
    the file listing and gets a signature; a file rewritten in place on
    other storage needs clear_prep_cache().
    """
    base = df.select(F.col(id_col), F.col(text_col))
    params = (int(n), int(num_perm), max_doc_freq, id_col, text_col)

    def build():
        sh = _shingles(df, id_col, text_col, n, max_doc_freq)
        h31 = (F.col("sh") % MINHASH_PRIME).alias("h31")
        # one SQL parse for all num_perm running minima (py4j plan-build cost;
        # the array-of-aggregates form also folds away the m{i} projection)
        sig_terms = ",".join(
            f"min(({a} * h31 + {b}) % {MINHASH_PRIME})" for a, b in minhash_params(num_perm)
        )
        return (
            sh.select("id", h31)
            .groupBy("id")
            .agg(F.expr(f"array({sig_terms})").alias("sig"))
        )

    return pathops.session_cached(
        base, "minhash", params, 8, lambda: pathops.materialize(build())
    )


def _band_frame(sig: DataFrame, num_perm: int, bands: int) -> DataFrame:
    """(id, band, bh): one row per (document, LSH band) with the band's
    hash — the bucketing frame behind both all-pairs candidate
    generation and star connectivity."""
    rows = num_perm // bands
    structs = ",".join(
        f"named_struct('band', {b}, 'bh', "
        + md5_long_sql(
            f"concat_ws('-', transform(slice(sig, {b * rows + 1}, {rows}), "
            f"x -> CAST(x AS STRING)))"
        )
        + ")"
        for b in range(bands)
    )
    return sig.select(
        "id", F.expr(f"explode(array({structs}))").alias("bb")
    ).select("id", F.col("bb.band").alias("band"), F.col("bb.bh").alias("bh"))


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    num_perm: int = 32,
    bands: int = 8,
    threshold: float = 0.5,
    max_doc_freq: int | None = None,
) -> DataFrame:
    """MinHash + LSH near-duplicate pairs.

    Signatures are banded (bands * rows = num_perm); documents sharing any
    band hash become candidates; candidates are scored by estimated
    Jaccard = fraction of matching signature positions.  Returns
    (id_a, id_b, est_jaccard >= threshold).
    """
    assert num_perm % bands == 0, "bands must divide num_perm"
    # the signature aggregation's shuffle leaves sig hash-partitioned by
    # id, which BOTH downstream signature lookups (join on renamed id)
    # reuse without re-exchanging — a property the banded join depends on
    sig = minhash_signatures(df, id_col, text_col, n, num_perm, max_doc_freq).persist()
    try:
        banded = _band_frame(sig, num_perm, bands)
        cands = _bucket_pairs(banded, ["band", "bh"])
        scored = (
            cands.join(sig.select(F.col("id").alias("id_a"), F.col("sig").alias("sig_a")), "id_a")
            .join(sig.select(F.col("id").alias("id_b"), F.col("sig").alias("sig_b")), "id_b")
            .select(
                "id_a",
                "id_b",
                F.round(
                    F.size(
                        F.filter(
                            F.zip_with(
                                "sig_a", "sig_b", lambda x, y: (x == y).cast("int")
                            ),
                            lambda v: v == 1,
                        )
                    )
                    / F.lit(num_perm),
                    6,
                ).alias("est_jaccard"),
            )
            .where(F.col("est_jaccard") >= threshold)
        )
        scored = scored.localCheckpoint(eager=True)
        return scored
    finally:
        sig.unpersist()


def edit_distance_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 2,
    num_perm: int = 16,
    bands: int = 8,
    threshold: float = 0.4,
    max_chars: int | None = None,
    max_doc_freq: int | None = None,
) -> DataFrame:
    """Near-duplicate pairs verified by TRUE edit distance over
    LSH-blocked candidates — the quadratic-cost Levenshtein DP runs only
    on pairs that already collide in a MinHash band (same banding as
    minhash_lsh_pairs), never all-pairs.  MinHash estimates set overlap
    and is blind to token ORDER; edit similarity is the order-sensitive
    verification production near-dup pipelines bolt on after blocking.

    Returns (id_a, id_b, edit_sim) with
    edit_sim = 1 - levenshtein(a, b) / max(len(a), len(b), 1) >= threshold.

    Scale design: the verify join touches candidate pairs only, and the
    per-pair DP is O(len_a * len_b) — `max_chars` bounds it by verifying
    on a document prefix (set it for corpora with long documents; both
    sides truncate identically so the score stays symmetric).  The
    levenshtein expression is JVM codegen (no Python).
    """
    sig = minhash_signatures(df, id_col, text_col, n, num_perm, max_doc_freq).persist()
    try:
        banded = _band_frame(sig, num_perm, bands)
        cands = _bucket_pairs(banded, ["band", "bh"])
        # pin the verify stage's width: candidate pairs are BYTE-light but
        # CPU-heavy (each row pays an O(len^2) Levenshtein DP), so AQE's
        # size-based partition coalescing collapses the few-MB pair set
        # onto one task and serializes the DP (measured 100 s vs 10 s at
        # sf0.1 — a 32x parallelism loss for a ~97k-row frame).  An
        # explicit repartition overrides the advisory coalescing with the
        # cluster's real width; the extra shuffle is trivially small.
        cands = cands.repartition(pathops.default_parallelism(df.sparkSession))
        txt = df.select(F.col(id_col).alias("id"), F.col(text_col).alias("__t"))
        if max_chars is not None:
            txt = txt.withColumn("__t", F.substring("__t", 1, max_chars))
        scored = (
            cands.join(
                txt.select(F.col("id").alias("id_a"), F.col("__t").alias("t_a")),
                "id_a",
            )
            .join(
                txt.select(F.col("id").alias("id_b"), F.col("__t").alias("t_b")),
                "id_b",
            )
            .select(
                "id_a",
                "id_b",
                F.round(
                    F.lit(1.0)
                    - F.levenshtein("t_a", "t_b")
                    / F.greatest(F.length("t_a"), F.length("t_b"), F.lit(1)),
                    6,
                ).alias("edit_sim"),
            )
            .where(F.col("edit_sim") >= threshold)
        )
        return scored.localCheckpoint(eager=True)
    finally:
        sig.unpersist()


def simhash(df: DataFrame, id_col: str, text_col: str, bits: int = 32) -> DataFrame:
    """(id, simhash) 32-bit SimHash over whitespace tokens.

    bit b of the result is 1 iff the majority of token hashes have bit b
    set (equivalent to the classic sum-of-±1 > 0), h being the 60-bit md5
    token hash.

    The per-bit one-counts are bit-PACKED four to a 64-bit accumulator
    (16-bit fields), so the groupBy aggregates 8 longs + 1 count instead of
    32 separate sums — 32 separate sum exprs blow Janino's 64 KB
    whole-stage-codegen limit and fall back to interpreted execution.
    Field width caps documents at 65535 tokens (far above any sane chunk
    size; chunk longer docs upstream).
    """
    # bits < 4 would render empty val_terms/packed_aggs joins -> an F.expr
    # parse error ('CAST(0 AS BIGINT) + '); validate up front (ADVICE r10)
    if bits < 4 or bits % 4:
        raise ValueError(
            f"simhash requires bits >= 4 and a multiple of 4 (got {bits})"
        )
    tok = df.select(
        F.col(id_col).alias("id"), F.explode(tokens(F.col(text_col))).alias("tok")
    ).withColumn("h", md5_long(F.col("tok")))
    # both expression loops rendered as SQL strings: the Column-API build
    # paid ~1.4 s of py4j round-trips per call (vs ~2 ms to parse)
    packed_aggs = []
    for j in range(bits // 4):
        terms = " + ".join(
            f"shiftleft(CAST(shiftright(h, {j * 4 + pos}) & 1 AS BIGINT), {16 * pos})"
            for pos in range(4)
        )
        packed_aggs.append(F.expr(f"sum(CAST(0 AS BIGINT) + {terms})").alias(f"p{j}"))
    sums = tok.groupBy("id").agg(F.count("*").alias("__n"), *packed_aggs)
    val_terms = " + ".join(
        f"CASE WHEN 2 * (shiftright(p{j}, {16 * pos}) & 65535) > __n "
        f"THEN CAST({1 << (j * 4 + pos)} AS BIGINT) ELSE 0 END"
        for j in range(bits // 4)
        for pos in range(4)
    )
    val = F.expr(f"CAST(0 AS BIGINT) + {val_terms}")
    return sums.select("id", val.alias("simhash"))


def simhash_pairs(
    df: DataFrame, id_col: str, text_col: str, max_hamming: int = 3
) -> DataFrame:
    """Near-dup pairs by SimHash hamming distance <= max_hamming.

    Candidate blocking: split the 32-bit hash into 4 bytes; by pigeonhole,
    any pair within hamming distance 3 shares at least one exact byte, so
    candidates = pairs sharing any (byte_index, byte_value) block.
    """
    sh = simhash(df, id_col, text_col).persist()
    try:
        blocks = sh.select(
            "id",
            "simhash",
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(i).alias("bi"),
                            F.shiftright(F.col("simhash"), i * 8)
                            .bitwiseAND(255)
                            .alias("bv"),
                        )
                        for i in range(4)
                    ]
                )
            ).alias("blk"),
        ).select("id", "simhash", "blk.bi", "blk.bv")
        ham = F.bit_count(F.col("l.simhash").bitwiseXOR(F.col("r.simhash")))
        return (
            blocks.alias("l")
            .join(
                blocks.alias("r"),
                (F.col("l.bi") == F.col("r.bi")) & (F.col("l.bv") == F.col("r.bv")),
            )
            .where(F.col("l.id") < F.col("r.id"))
            .select(
                F.col("l.id").alias("id_a"),
                F.col("r.id").alias("id_b"),
                ham.alias("hamming"),
            )
            .distinct()
            .where(F.col("hamming") <= max_hamming)
        )
    finally:
        sh.unpersist()


def dedup_clusters(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    num_perm: int = 32,
    bands: int = 8,
    threshold: float | None = None,
    max_doc_freq: int | None = None,
    pairs: DataFrame | None = None,
    connectivity: str = "pairs",
) -> DataFrame:
    """Near-duplicate CLUSTERS: LSH pairs -> connected components ->
    canonical representative.

    `threshold` (default 0.5 under connectivity="pairs") is the
    estimated-Jaccard cut for candidate pairs.  It is REJECTED with
    connectivity="star": star edges are band-bucket collisions with no
    per-pair score to threshold — tune star precision with fewer,
    stricter bands instead.

    Pairwise near-dup detection alone under-deletes: if A~B and B~C but
    A!~C (similarity is not transitive), keeping one doc per *pair* still
    leaves two of the three.  The standard corpus-dedup pipeline
    (e.g. the MinHash stage of large LLM corpus cleaning) therefore
    groups pairs into connected components and keeps one representative
    per component.

    Returns (doc_id, canonical_id, cluster_size) for every document in a
    cluster of size >= 2; canonical_id is the minimum doc id of the
    component and cluster_size its member count.  Documents with no
    near-duplicate are omitted (join back with a left join to tag the
    full corpus).

    Scale design: connected components run ONLY over the duplicate
    subgraph (vertices = docs appearing in at least one pair), which is
    normally orders of magnitude smaller than the corpus; the component
    step is the batched min-label propagation of
    `algorithms.weakly_connected_component` (one shuffle per round,
    O(duplicate-subgraph diameter) rounds — dup clusters are
    near-cliques, so 2-3 rounds in practice).

    `pairs` lets callers feed pre-computed / differently-sourced pairs
    (e.g. `ngram_jaccard_pairs` output or a persisted pair table) —
    any DataFrame with id_a / id_b columns.

    `connectivity` picks the candidate-edge construction:
      - "pairs" (default): thresholded LSH all-pairs — exact
        estimated-jaccard semantics, but a g-member duplicate bucket
        emits O(g^2) candidate pairs, so corpora with LARGE duplicate
        clusters (crawl snapshots: thousands of copies of one page) pay
        quadratically in cluster size (measured: the 100x replicated
        tier, ~100 copies/doc, grew 20.5x wall per data decade).
      - "star": per band-bucket emit only (member, bucket-min) edges —
        candidate mass LINEAR in bucket size, the standard production
        trade for corpus-scale dedup.  Components are BUCKET
        connectivity: any band collision links documents (no per-pair
        jaccard threshold), so star components are always a coarsening
        (superset-union) of "pairs" components under the same banding;
        tune precision with more rows per band (fewer, stricter bands).
    """
    from ..algorithms import weakly_connected_component

    if connectivity not in ("pairs", "star"):
        raise ValueError(
            f"connectivity must be 'pairs' or 'star', got {connectivity!r}"
        )
    if connectivity == "star" and threshold is not None:
        raise ValueError(
            "threshold is not applicable with connectivity='star' (star "
            "edges are band-bucket collisions, never jaccard-scored); "
            "tune precision with fewer, stricter bands, or use "
            "connectivity='pairs'"
        )
    if pairs is None and connectivity == "star":
        # banded has two consumers (bucket-min aggregate + the join back);
        # persist it so signatures are computed once, then eagerly
        # checkpoint the small pair set and release, mirroring
        # minhash_lsh_pairs' persist discipline
        banded = _band_frame(
            minhash_signatures(
                df, id_col, text_col, n=n, num_perm=num_perm,
                max_doc_freq=max_doc_freq,
            ),
            num_perm,
            bands,
        ).persist()
        try:
            mins = banded.groupBy("band", "bh").agg(F.min("id").alias("id_b"))
            pairs = (
                banded.join(mins, ["band", "bh"])
                .where(F.col("id") != F.col("id_b"))
                .select(F.col("id").alias("id_a"), "id_b")
                .distinct()
                .localCheckpoint(eager=True)
            )
        finally:
            banded.unpersist()
    elif pairs is None:
        pairs = minhash_lsh_pairs(
            df, id_col, text_col, n=n, num_perm=num_perm, bands=bands,
            threshold=0.5 if threshold is None else threshold,
            max_doc_freq=max_doc_freq,
        )
    edges = pairs.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
    verts = (
        edges.select(F.col("src").alias("vid"))
        .unionByName(edges.select(F.col("dst").alias("vid")))
        .distinct()
    )
    comp = weakly_connected_component(edges, verts)
    sizes = comp.groupBy("component_id").agg(F.count("*").alias("cluster_size"))
    return (
        comp.join(sizes, "component_id")
        .select(
            F.col("vid").alias("doc_id"),
            F.col("component_id").alias("canonical_id"),
            "cluster_size",
        )
    )


def deduplicate_lsh(
    df: DataFrame,
    id_col: str,
    text_col: str,
    clusters: DataFrame | None = None,
    keep: str = "min_id",
    **lsh_kwargs,
) -> DataFrame:
    """Keep one representative per near-duplicate cluster.

    `keep` selects the representative:
      - "min_id" (default): the cluster's canonical (minimum) id — drops
        every row whose id appears in `dedup_clusters` with
        doc_id != canonical_id.  Pure anti-join, no text read.
      - "longest": the member with the most whitespace tokens (ties ->
        minimum id) — the usual production choice when duplicates are
        truncated/boilerplate-trimmed variants of one page and the
        fullest copy should survive.  One extra row_number window over
        the cluster members (cluster-id partitioned, WindowGroupLimit
        applies), still never a full-corpus sort.

    Anti-join against the non-representative member list; the drop list's
    size is corpus-dependent (web crawls can be 30-50% duplicates), so
    the join strategy is left to AQE — broadcast when the list is small,
    shuffled anti-join when it is not."""
    if keep not in ("min_id", "longest"):
        raise ValueError(f"keep must be 'min_id' or 'longest', got {keep!r}")
    if clusters is None:
        clusters = dedup_clusters(df, id_col, text_col, **lsh_kwargs)
    if keep == "min_id":
        drop = (
            clusters.where(F.col("doc_id") != F.col("canonical_id"))
            .select(F.col("doc_id").alias(id_col))
        )
        return df.join(drop, id_col, "left_anti")
    # keep == "longest": representative = most whitespace tokens (ties ->
    # minimum id).  Carry the raw text THROUGH the members join and
    # tokenize after it — projecting size(tokens()) before the join would
    # re-tokenize the whole corpus for a computation that only cluster
    # members need.  The per-cluster argmax is one min_by aggregate over
    # a (-__len, doc_id) struct instead of a row_number window + rank
    # filter: same keeper, one shuffle on the (small) member set.  Only
    # __len (always numeric) is negated; doc_id is merely compared, so
    # string/any-orderable id columns keep the ties-to-minimum contract.
    members = clusters.join(
        df.select(F.col(id_col).alias("doc_id"), F.col(text_col).alias("__txt")),
        "doc_id",
    ).select(
        "doc_id",
        "canonical_id",
        F.size(tokens(F.col("__txt"))).alias("__len"),
    )
    # members feeds BOTH the keeper aggregate and the drop anti-join; it
    # is cluster-members-small, while its lineage (minhash -> LSH -> WCC)
    # is the whole pipeline — checkpoint so that lineage runs once per
    # action, not once per consumer (measured 6.4 -> ~2.5 s at sf0.1)
    members = members.localCheckpoint(eager=True)
    keepers = members.groupBy("canonical_id").agg(
        F.expr("min_by(doc_id, struct(-__len, doc_id))").alias("doc_id")
    )
    drop = (
        members.select("doc_id")
        .join(keepers.select("doc_id"), "doc_id", "left_anti")
        .select(F.col("doc_id").alias(id_col))
    )
    return df.join(drop, id_col, "left_anti")


def cross_corpus_dedup(
    df: DataFrame,
    ref: DataFrame,
    id_col: str,
    text_col: str,
    mode: str = "exact",
    n: int = 2,
    num_perm: int = 16,
    bands: int = 8,
    threshold: float | None = None,
    ref_id_col: str | None = None,
    ref_text_col: str | None = None,
) -> DataFrame:
    """Drop rows of `df` that duplicate a REFERENCE corpus `ref` — the
    re-crawl / snapshot-increment dedup: only documents genuinely new
    versus the previous snapshot survive.  Returns the surviving rows of
    `df` with its original schema.

    `mode`:
      - "exact": anti-join on the md5 content hash — one shuffle, the
        cheapest cross-snapshot pass.
      - "near": MinHash band-bucket collision against the reference
        (both sides' signatures computed IN-ROW, zero pre-join
        shuffles).  With `threshold=None` any shared band drops the row
        (linear candidate mass, the star-connectivity trade); with a
        threshold, candidates are scored by estimated Jaccard against
        the colliding reference docs and dropped only at
        est_jaccard >= threshold.

    At 100 TB the reference side is typically the big one (all previous
    snapshots): both paths are plain equi-joins on hash keys (content
    hash / (band, bh)), so they shuffle-partition by those keys and
    never broadcast the reference; AQE handles skewed buckets.  For a
    standing reference, persist `ref`'s band frame once and feed it via
    the streaming variant (streaming.events.near_dup_stream)."""
    ref_id = ref_id_col or id_col
    ref_text = ref_text_col or text_col
    if mode == "exact":
        rh = ref.select(md5_long(F.col(ref_text)).alias("__ch")).distinct()
        return (
            df.withColumn("__ch", md5_long(F.col(text_col)))
            .join(rh, "__ch", "left_anti")
            .drop("__ch")
        )
    if mode != "near":
        raise ValueError(f"mode must be 'exact' or 'near', got {mode!r}")
    sig_new = minhash_signatures(df, id_col, text_col, n=n, num_perm=num_perm)
    banded_new = _band_frame(sig_new, num_perm, bands)
    sig_ref = minhash_signatures(ref, ref_id, ref_text, n=n, num_perm=num_perm)
    banded_ref = _band_frame(sig_ref, num_perm, bands).select("band", "bh")
    if threshold is None:
        hit = (
            banded_new.join(banded_ref.distinct(), ["band", "bh"], "left_semi")
            .select(F.col("id").alias(id_col))
            .distinct()
        )
        return df.join(hit, id_col, "left_anti")
    # scored: join colliding (new, ref) signature pairs, keep the row only
    # if NO reference doc reaches the threshold
    banded_ref_ids = _band_frame(sig_ref, num_perm, bands)
    cand = (
        banded_new.join(
            banded_ref_ids.select(
                "band", "bh", F.col("id").alias("__rid")
            ),
            ["band", "bh"],
        )
        .select("id", "__rid")
        .distinct()
    )
    est = F.size(
        F.filter(
            F.zip_with("sig", "__rsig", lambda x, y: (x == y).cast("int")),
            lambda v: v == 1,
        )
    ) / F.lit(num_perm)
    hit = (
        cand.join(sig_new, "id")
        .join(
            sig_ref.select(F.col("id").alias("__rid"), F.col("sig").alias("__rsig")),
            "__rid",
        )
        .where(F.round(est, 6) >= threshold)
        .select(F.col("id").alias(id_col))
        .distinct()
    )
    return df.join(hit, id_col, "left_anti")


def dedup_paragraphs(
    df: DataFrame,
    id_col: str,
    paras_col: str,
    sep: str = "\n",
    drop_above: int | None = None,
) -> DataFrame:
    """Corpus-global PARAGRAPH dedup (the CCNet/RefinedWeb boilerplate
    pass): every paragraph that occurs more than once across the corpus
    is kept only at its FIRST occurrence (minimum (doc_id, position)) and
    dropped everywhere else — headers, footers, cookie banners and
    licence blocks collapse to one surviving copy while unique prose is
    untouched.  With `drop_above=k`, paragraphs occurring more than k
    times corpus-wide are treated as pure boilerplate and dropped
    EVERYWHERE (first occurrence included) — the CCNet threshold mode.

    Input: `paras_col` is an array<string> column of the document's
    paragraphs (split upstream on real newlines, or synthesized by a
    chunker).  Returns (doc_id, clean_text, n_kept, n_dropped) with
    clean_text the surviving paragraphs re-joined by `sep` in original
    order (empty string when everything was dropped).

    Scale design (round-10 rewrite; the r9 shape shuffled full paragraph
    TEXT twice — by hash for the owner join and by doc for reassembly —
    and grew ~8x at 10x data): paragraph text now never crosses an
    exchange.  (1) Instances are hashed map-side and the text column is
    dropped immediately — only (doc_id, pos, hash) rows, tens of bytes,
    feed the owner aggregate (min(struct(doc, pos)) + count per hash,
    map-side combined).  (2) Only hashes that can drop anything (freq >
    1, or any hash past `drop_above`) join back against the instance
    keys — for a mostly-unique corpus that side is duplicate-density-
    sized, so AQE runs it as a broadcast join; at 100 TB the same frame
    is the bucketed semi-join side.  (3) Dropped positions are collected
    per doc (a small array) and joined to the ORIGINAL one-row-per-doc
    frame, where an index-aware F.filter rebuilds clean_text in-row —
    no posexploded text, no window, no global sort.  A boilerplate
    paragraph occurring 10^9 times is ONE aggregation key; its drop
    join fans out ids only, which AQE's skew split handles.  Per-doc
    work in step (3) is O(paragraphs x dropped) array scanning —
    bounded by document size, not corpus size."""
    base = df.where(
        F.col(paras_col).isNotNull() & (F.size(F.col(paras_col)) > 0)
    )
    inst = base.select(
        F.col(id_col).alias("doc_id"),
        F.posexplode(F.col(paras_col)).alias("pos", "para"),
    ).select("doc_id", "pos", md5_long(F.col("para")).alias("__ph"))
    owner = inst.groupBy("__ph").agg(
        F.min(F.struct("doc_id", "pos")).alias("first"),
        F.count("*").alias("__freq"),
    )
    # Hashes that can drop at least one instance: repeats always can;
    # with a CCNet threshold, anything past drop_above drops everywhere
    # (drop_above=0 makes even singletons boilerplate).
    can_drop = F.col("__freq") > 1
    keep = (F.col("first.doc_id") == F.col("doc_id")) & (
        F.col("first.pos") == F.col("pos")
    )
    if drop_above is not None:
        can_drop = can_drop | (F.col("__freq") > drop_above)
        keep = keep & (F.col("__freq") <= drop_above)
    dropped = (
        inst.join(owner.where(can_drop), "__ph")
        .where(~keep)
        .groupBy("doc_id")
        .agg(F.sort_array(F.collect_list("pos")).alias("__drop_pos"))
        .select(F.col("doc_id").alias("__dp_doc"), "__drop_pos")
    )
    out = base.join(
        dropped, F.col(id_col) == F.col("__dp_doc"), "left"
    )
    n_par = F.size(F.col(paras_col)).cast("long")
    n_drop = F.coalesce(F.size("__drop_pos"), F.lit(0)).cast("long")
    kept_arr = F.when(
        F.col("__drop_pos").isNull(), F.col(paras_col)
    ).otherwise(
        F.filter(
            F.col(paras_col),
            lambda p, i: ~F.array_contains(F.col("__drop_pos"), i),
        )
    )
    return out.select(
        F.col(id_col).alias("doc_id"),
        F.array_join(kept_arr, sep).alias("clean_text"),
        (n_par - n_drop).alias("n_kept"),
        n_drop.alias("n_dropped"),
    )


def containment_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    threshold: float = 0.8,
    max_doc_freq: int | None = None,
    max_candidates_per_doc: int | None = None,
    strategy: str = "prefix",
) -> DataFrame:
    """Asymmetric shingle containment: C(a -> b) = |A ∩ B| / |A| over
    word-n-gram shingle sets.  Returns every ORDERED pair (id_a, id_b,
    containment, sz_a, sz_b) with id_a != id_b and containment >=
    threshold — "a's content is (mostly) inside b".  This is what catches
    a document embedded verbatim in a longer one, which symmetric Jaccard
    misses (J = |A|/|B| can be arbitrarily small while C(a->b) = 1).

    Two exact plans, selected by `strategy` (both produce the identical
    unfiltered all-pairs result, so the oracle needs no knowledge of the
    choice):

    - 'prefix' (default): positional prefix filtering adapted to the
      asymmetric case — shingles globally ordered rarest-first, the
      CONTAINED side joins only its first `sz_a - ceil(t*sz_a) + 1`
      shingles (if C(a->b) >= t then |A ∩ B| >= ceil(t*sz_a), so a
      shared shingle must sit in a's prefix: lossless), size prune
      in-join, verification by array_intersect on the candidates.
    - 'count': full shingle self-join + partial-aggregated COUNT per
      (id_a, id_b) — no candidate set, no arrays carried, map-side
      combine does the work.  Use when documents are LONG (big arrays
      make per-candidate array_intersect expensive) but shingle overlap
      is bounded (sum over shingles of df² stays near-linear).

    Measured on the sf0.1 small-vocabulary corpus — a DENSE worst case
    where the prefix filter cannot prune (11.77M distinct candidates of
    12.5M possible): prefix 24.5 s vs count 41.4 s, because a shuffled
    aggregation row costs ~an order of magnitude more than vectorized
    array-element ops; the df²-join (73M rows there) is the count
    plan's own blowup axis.  Neither estimate is reliably cheap to
    probe up front, so the choice is an explicit parameter, not a
    guess.  `max_doc_freq` bounds stop-shingle blowup in either plan
    exactly as in ngram_jaccard_pairs.
    """
    if strategy not in ("prefix", "count"):
        raise ValueError(f"unknown strategy {strategy!r}")
    sh = _shingles(df, id_col, text_col, n, max_doc_freq).persist()
    if strategy == "count":
        try:
            # eager populate: the self-join's two sides + the sizes agg
            # would otherwise race the first materialization of the
            # persisted shingles (the pipeline_corpus lesson, PERF.md)
            sh.count()
            sizes = sh.groupBy("id").agg(F.count("*").alias("sz"))
            shared = (
                sh.alias("l")
                .join(sh.alias("r"), "sh")
                .where(F.col("l.id") != F.col("r.id"))
                .groupBy(
                    F.col("l.id").alias("id_a"), F.col("r.id").alias("id_b")
                )
                .agg(F.count("*").alias("__shared"))
            )
            out = (
                shared.join(
                    sizes.select(F.col("id").alias("id_a"), F.col("sz").alias("sz_a")),
                    "id_a",
                )
                .join(
                    sizes.select(F.col("id").alias("id_b"), F.col("sz").alias("sz_b")),
                    "id_b",
                )
                .select(
                    "id_a",
                    "id_b",
                    F.round(F.col("__shared") / F.col("sz_a"), 6).alias("containment"),
                    "sz_a",
                    "sz_b",
                )
                .where(F.col("containment") >= threshold)
            )
            if max_candidates_per_doc is not None:
                w_cap = Window.partitionBy("id_a").orderBy(
                    F.col("sz_b").desc(), F.col("id_b").asc()
                )
                out = (
                    out.withColumn("__cr", F.row_number().over(w_cap))
                    .where(F.col("__cr") <= max_candidates_per_doc)
                    .drop("__cr")
                )
            return out.localCheckpoint(eager=True)
        finally:
            sh.unpersist()
    freq = sh.groupBy("sh").agg(F.count("*").alias("df"))
    sets = (
        sh.join(freq, "sh")
        .groupBy("id")
        .agg(F.sort_array(F.collect_list(F.struct(F.col("df"), F.col("sh")))).alias("ordered"))
        .select("id", F.col("ordered.sh").alias("arr"), F.size("ordered").alias("sz"))
        .withColumn(
            "plen",
            F.col("sz") - F.ceil(F.lit(threshold) * F.col("sz")).cast("int") + 1,
        )
        .persist()
    )
    try:
        a_prefix = sets.select(
            F.col("id").alias("id_a"),
            F.col("sz").alias("psz_a"),
            F.explode(F.slice("arr", 1, F.col("plen"))).alias("sh"),
        )
        b_all = sets.select(
            F.col("id").alias("id_b"),
            F.col("sz").alias("psz_b"),
            F.explode("arr").alias("sh"),
        )
        cands = (
            a_prefix.join(b_all, "sh")
            .where(
                (F.col("id_a") != F.col("id_b"))
                & (F.ceil(F.lit(threshold) * F.col("psz_a")) <= F.col("psz_b"))
            )
            .select("id_a", "id_b", "psz_b")
            .distinct()
        )
        if max_candidates_per_doc is not None:
            # Scale knob for the DEDUP use case (existence of a container,
            # not the full pair list): verify each doc against only its
            # `max_candidates_per_doc` largest candidate containers.  On
            # corpora with large mutual-duplicate groups the exact pair
            # output is quadratic in group size by definition (measured
            # 51 -> 502k pairs on a 10x tier with ~10 near-copies per
            # doc); capping makes the verify stage linear while keeping
            # the drop decision intact whenever any of the biggest
            # candidates contains the doc.  Lossy for pair ENUMERATION —
            # leave None when the full pair set is the product.
            w_cap = Window.partitionBy("id_a").orderBy(
                F.col("psz_b").desc(), F.col("id_b").asc()
            )
            cands = (
                cands.withColumn("__cr", F.row_number().over(w_cap))
                .where(F.col("__cr") <= max_candidates_per_doc)
                .drop("__cr")
            )
        cands = cands.drop("psz_b")
        out = (
            cands.join(
                sets.select(
                    F.col("id").alias("id_a"), F.col("arr").alias("arr_a"), F.col("sz").alias("sz_a")
                ),
                "id_a",
            )
            .join(
                sets.select(
                    F.col("id").alias("id_b"), F.col("arr").alias("arr_b"), F.col("sz").alias("sz_b")
                ),
                "id_b",
            )
            .select(
                "id_a",
                "id_b",
                F.round(
                    F.size(F.array_intersect("arr_a", "arr_b")) / F.col("sz_a"), 6
                ).alias("containment"),
                "sz_a",
                "sz_b",
            )
            .where(F.col("containment") >= threshold)
        )
        return out.localCheckpoint(eager=True)
    finally:
        sets.unpersist()
        sh.unpersist()


def deduplicate_contained(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    threshold: float = 0.8,
    max_doc_freq: int | None = None,
    max_candidates_per_doc: int | None = None,
    strategy: str = "prefix",
) -> DataFrame:
    """Drop every document whose shingle set is (mostly) contained in a
    LARGER document — the superset survives.  Deterministic total rule: x
    is dropped iff some y has C(x->y) >= threshold and (sz_y > sz_x, or
    sz_y = sz_x and y's id is lower) — the size-then-id tie-break makes
    mutual containment (exact duplicates at the shingle level) keep
    exactly the lowest id.  Returns the surviving rows of `df`.
    `max_candidates_per_doc` (the dedup-mode scale knob — checking only
    the largest candidate containers is exactly what this rule needs)
    and `strategy` pass through to containment_pairs."""
    pairs = containment_pairs(
        df, id_col, text_col, n, threshold, max_doc_freq,
        max_candidates_per_doc, strategy,
    )
    drop = (
        pairs.where(
            (F.col("sz_b") > F.col("sz_a"))
            | ((F.col("sz_b") == F.col("sz_a")) & (F.col("id_b") < F.col("id_a")))
        )
        .select(F.col("id_a").alias(id_col))
        .distinct()
    )
    return df.join(drop, id_col, "left_anti")


def exact_substring_dedup(
    df: DataFrame,
    id_col: str,
    text_col: str,
    window: int = 50,
    sep: str = " ",
) -> DataFrame:
    """Exact duplicated-PASSAGE removal (the ExactSubstr dedup of Lee et
    al., "Deduplicating Training Data Makes Language Models Better",
    re-expressed over fixed token windows): every length-`window` token
    span that occurs more than once in the CORPUS is removed from all
    but its first occurrence — first = lowest (doc_id, position), the
    corpus-global deterministic owner, exactly like dedup_paragraphs.
    Unlike paragraph dedup this catches duplicated passages at ANY
    offset, independent of document structure.

    A token survives unless covered by some non-owner duplicated window.
    Returns (doc_id, clean_text, n_tokens, n_removed) with clean_text
    rebuilt from surviving tokens in order.

    Scale: windows explode to one row per token position (window
    CONTENT is hashed to 60 bits, never carried); duplicate detection is
    a groupBy on the window hash with a min-struct owner aggregate —
    boilerplate shared by millions of docs lands on one key as ONE
    aggregation row, not a join blowup; coverage expansion is per-doc
    bounded (<= window x duplicated positions) and the rebuild is one
    per-doc aggregate.  Three shuffles total, nothing quadratic."""
    toks = df.select(
        F.col(id_col).alias("doc_id"), tokens(F.col(text_col)).alias("__t")
    ).withColumn("__n", F.size("__t"))
    # one row per window start; window hash = md5_long of the joined span
    pos = toks.select(
        "doc_id",
        "__t",
        "__n",
        F.explode(
            F.when(
                F.col("__n") >= window,
                F.sequence(F.lit(1), F.col("__n") - window + 1),
            ).otherwise(F.array().cast("array<int>"))
        ).alias("pos"),
    )
    wins = pos.select(
        "doc_id",
        "pos",
        md5_long(F.array_join(F.slice("__t", F.col("pos"), window), sep)).alias("__wh"),
    )
    owners = wins.groupBy("__wh").agg(
        F.count("*").alias("__occ"),
        F.min(F.struct("doc_id", "pos")).alias("__own"),
    )
    dropped = (
        wins.join(owners, "__wh")
        .where(
            (F.col("__occ") > 1)
            & ~(
                (F.col("__own.doc_id") == F.col("doc_id"))
                & (F.col("__own.pos") == F.col("pos"))
            )
        )
        .select("doc_id", "pos")
    )
    covered = dropped.select(
        "doc_id", F.explode(F.sequence(F.col("pos"), F.col("pos") + window - 1)).alias("cov")
    ).distinct()
    all_pos = toks.select(
        "doc_id", "__t", F.explode(F.sequence(F.lit(1), F.col("__n"))).alias("cov")
    )
    kept = all_pos.join(covered, ["doc_id", "cov"], "left_anti").select(
        "doc_id", "cov", F.element_at("__t", F.col("cov")).alias("__tok")
    )
    rebuilt = kept.groupBy("doc_id").agg(
        F.array_join(
            F.transform(
                F.sort_array(F.collect_list(F.struct("cov", "__tok"))),
                lambda s: s["__tok"],
            ),
            sep,
        ).alias("clean_text"),
        F.count("*").alias("n_tokens"),
    )
    # docs whose every token was covered disappear from `kept` — restore
    # them with empty text so the operator is total over the input
    return (
        toks.select("doc_id", F.col("__n").alias("__orig"))
        .join(rebuilt, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce(F.col("clean_text"), F.lit("")).alias("clean_text"),
            F.coalesce(F.col("n_tokens"), F.lit(0)).cast("long").alias("n_tokens"),
            (F.col("__orig") - F.coalesce(F.col("n_tokens"), F.lit(0)))
            .cast("long")
            .alias("n_removed"),
        )
    )
