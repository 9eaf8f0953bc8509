"""Document-corpus operators — the training-data-pipeline side of the
engine (deduplication, text quality, fingerprinting) over a
``documents(doc_id, text, lang, source, n_chars)`` table.

Everything in the gate path is built-in Spark SQL expressions (JVM-side,
whole-stage-codegen) — no Python in any hot path.

Hashing is ENGINE-NEUTRAL by construction: the fingerprint primitive is
the first 60 bits of md5 (``_md5_60_sql``), which Spark computes as
``conv(substr(md5(x),1,15),16,10)`` and DuckDB as
``CAST('0x' || substr(md5(x),1,15) AS BIGINT)`` — identical values, so
every near-dup operator (minhash, simhash, LSH buckets, dedup clusters)
has a full value-checked SQL oracle instead of a rows-only check.
MinHash uses ONE md5 per shingle plus a universal affine family
``h_i(x) = (a_i·x + b_i) mod P`` (Carter-Wegman; P = 2^31-1) — k hashes
for the price of one digest, all 64-bit-safe integer arithmetic.

Scale notes: exact dedup is one hash-aggregate on the full text (at 100 TB
one would group on sha2(text) first to shrink shuffle rows — provided as
``exact_dedup(by_hash=True)``). MinHash/LSH is the scale path for
near-dup: shingle → k minhashes → b bands → bucket join; candidate pairs
are verified with exact Jaccard only within buckets, never all-pairs.
Boilerplate-heavy corpora (license headers) produce pathological buckets
whose self-join is O(n²) — ``max_bucket_size`` caps the fan-in and
``minhash_dropped_buckets`` reports exactly what was skipped.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from linkgraph.runner import Checkpoints

STOPWORDS = ("the", "of", "and", "a", "to", "in", "is", "it", "that", "for")

# Whitespace tokenizer with an EXPLICIT class (not \s): Java's \s is
# exactly [ \t\n\x0B\f\r] but RE2's \s omits \x0B, so the DuckDB twins
# (oracle_sql token/tfidf/lm/chunk/pack SQL) diverged on vertical-tab
# text (ADVICE r04) — both engines now carry the identical literal class.
_WS_CLASS_SPARK = "[ \\\\t\\\\n\\\\x0B\\\\f\\\\r]+"
_TOKENIZE = f"split(lower(trim(text)), '{_WS_CLASS_SPARK}')"

# Carter-Wegman universal-hash modulus: 2^31 - 1 (Mersenne prime). Keeps
# a_i·x + b_i < 2^62 — exact in BIGINT arithmetic in BOTH engines.
MINHASH_PRIME = 2_147_483_647


def _md5_60_sql(inner_sql: str) -> str:
    """Spark SQL fragment: first 60 bits of md5(``inner_sql``) as BIGINT.
    60 bits (15 hex chars) so the value is always positive in an int64;
    DuckDB computes the identical value (see module docstring)."""
    return f"CAST(conv(substr(md5({inner_sql}), 1, 15), 16, 10) AS BIGINT)"


def _md5_60(inner_sql: str) -> Column:
    return F.expr(_md5_60_sql(inner_sql))


def minhash_params(num_hashes: int, seed: int = 42) -> list[tuple[int, int]]:
    """Deterministic (a_i, b_i) pairs for the affine family
    h_i(x) = (a_i·x + b_i) mod P, derived from md5 of the (seed, i) label
    so the Spark plan, the SQL oracle generator, and any NumPy check all
    reproduce the same constants without sharing state."""
    params = []
    for i in range(num_hashes):
        a = (
            int(hashlib.md5(f"mh-a:{seed}:{i}".encode()).hexdigest()[:15], 16)
            % (MINHASH_PRIME - 1)
        ) + 1  # a ∈ [1, P-1]: never the degenerate zero multiplier
        b = int(hashlib.md5(f"mh-b:{seed}:{i}".encode()).hexdigest()[:15], 16) % MINHASH_PRIME
        params.append((a, b))
    return params


def exact_dedup(documents: DataFrame, by_hash: bool = False) -> DataFrame:
    """One row per distinct text: (doc_id = min id of the group, n = group
    size). ``by_hash`` groups on sha2(text) instead of the full text —
    same result (modulo sha2 collisions), far smaller shuffle rows at
    100 TB scale."""
    key = F.sha2(F.col("text"), 256) if by_hash else F.col("text")
    return (
        documents.groupBy(key.alias("k"))
        .agg(F.min("doc_id").alias("doc_id"), F.count("*").alias("n"))
        .select("doc_id", "n")
    )


# GPT-2-style pre-tokenizer shape, ASCII-anchored so Spark (Java regex)
# and DuckDB (RE2) agree byte-for-byte: a token is a contraction tail,
# a letter run (with optional leading space), a digit run, a punctuation
# run, or residual whitespace. The "BPE-ish" count the brief asks for —
# a far better proxy for LLM token budgets than whitespace words.
# The whitespace class is EXPLICIT ([ \t\n\x0B\f\r]) rather than \s:
# Java's \s includes vertical tab \x0B while RE2's does not, so the two
# engines diverged on any text containing a VT (ADVICE r03); the twin
# class lives in oracle_sql.docs_token_stats_sql.
_BPE_REGEX = (
    "'(?:s|t|re|ve|m|ll|d)| ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9 \\\\t\\\\n\\\\x0B\\\\f\\\\r]+"
)


def token_stats(documents: DataFrame) -> DataFrame:
    """Per-document text-quality metrics, all JVM-side expressions:
    token count (whitespace AND a BPE-ish regex pre-tokenizer), char
    count, mean token length, stopword ratio, punctuation ratio — the
    standard quality-scoring features."""
    toks = F.expr(_TOKENIZE)
    n_toks = F.size(toks)
    stop_list = ", ".join(f"'{w}'" for w in STOPWORDS)
    n_stop = F.expr(f"size(filter({_TOKENIZE}, t -> t IN ({stop_list})))")
    tok_chars = F.expr(
        f"aggregate(transform({_TOKENIZE}, t -> length(t)), 0, (a, x) -> a + x)"
    )
    n_bpe = F.expr(f"size(regexp_extract_all(text, \"{_BPE_REGEX}\", 0))")
    n_punct = F.expr("length(regexp_replace(text, '[^!-/:-@\\\\[-`{-~]', ''))")
    return documents.select(
        "doc_id",
        n_toks.cast("long").alias("n_tokens"),
        n_bpe.cast("long").alias("n_bpe_tokens"),
        F.length("text").cast("long").alias("n_chars"),
        F.round(
            tok_chars / F.nullif(n_toks.cast("double"), F.lit(0.0)), 6
        ).alias("mean_token_len"),
        F.round(n_stop / F.nullif(n_toks.cast("double"), F.lit(0.0)), 6).alias(
            "stopword_ratio"
        ),
        F.round(
            n_punct / F.nullif(F.length("text").cast("double"), F.lit(0.0)), 6
        ).alias("punct_ratio"),
    )


def repetition_stats(documents: DataFrame, n: int = 2) -> DataFrame:
    """(doc_id, n_ngrams, dup_ngram_frac, top_ngram_frac) — the Gopher
    repetition quality rules (Rae et al. 2021 §A1.1): the fraction of a
    document's n-grams that are repeats (1 − distinct/total) and the
    fraction claimed by the single most frequent n-gram. High values flag
    boilerplate/spam; Gopher drops docs above per-n thresholds.

    Plan shape: fully ROW-LOCAL — the n-gram multiset is a per-document
    quantity, so total/distinct/top-count are computed inside one
    projection over the doc's sorted n-gram array (array_sort + one
    run-length fold), with the n-gram construction bound once per doc
    via the one-element-array lambda (the _shingle_stream pattern).
    Zero shuffles and no joins (the former explode → groupBy(doc_id,
    ngram) → groupBy(doc_id) → join-back shape exchanged the O(total
    n-grams) string stream twice; measured 10.3 s → see
    OPTIMIZATION_r06.md). Zero-gram docs report 0.0 (ANSI-safe guards,
    not bare division)."""
    k = n
    ngrams = (
        f"transform(array({_TOKENIZE}), t -> "
        f"transform(sequence(0, greatest(size(t) - {k}, 0)), "
        f"i -> array_join(slice(t, i + 1, {k}), ' ')))[0]"
    )
    # run-length scan over the sorted array: top count = longest run
    stats = (
        f"transform(array(array_sort({ngrams})), g -> named_struct("
        f"'total', size(g), "
        f"'dist', size(array_distinct(g)), "
        f"'topc', aggregate(g, "
        f"named_struct('prev', CAST(NULL AS STRING), 'run', 0L, 'best', 0L), "
        f"(ac, x) -> named_struct("
        f"'prev', x, "
        f"'run', CASE WHEN x <=> ac.prev THEN ac.run + 1L ELSE 1L END, "
        f"'best', greatest(ac.best, CASE WHEN x <=> ac.prev THEN ac.run + 1L "
        f"ELSE 1L END)), "
        f"ac -> ac.best)))[0]"
    )
    tot = F.col("st.total").cast("double")
    return documents.select("doc_id", F.expr(stats).alias("st")).select(
        "doc_id",
        F.col("st.total").cast("long").alias("n_ngrams"),
        F.when(
            F.col("st.total") > 0,
            F.round((F.col("st.total") - F.col("st.dist")) / tot, 6),
        )
        .otherwise(F.lit(0.0))
        .alias("dup_ngram_frac"),
        F.when(F.col("st.total") > 0, F.round(F.col("st.topc") / tot, 6))
        .otherwise(F.lit(0.0))
        .alias("top_ngram_frac"),
    )


def _shingle_stream(documents: DataFrame, k: int) -> DataFrame:
    """(doc_id, shingle) — k-gram token shingles, RAW (duplicates kept):
    no shuffle. Consumers that need set semantics dedup on the 60-bit
    hash (shingle_hashes) so the dedup shuffle carries 8-byte keys, or
    skip dedup entirely when their aggregate is idempotent (minhash).

    The tokenization is BOUND ONCE per document via a one-element-array
    lambda (``transform(array(split(..)), t -> ...)``): Catalyst performs
    no loop-invariant hoisting inside higher-order-function lambdas, so
    referencing the split expression directly in the per-position lambda
    re-ran the regex split once per shingle POSITION (~200×/doc — 3.4×
    the whole minhash pipeline's cost at the 200k-doc bench; caught by
    stage profiling in round 3). A lambda variable is a bound reference,
    immune to both the re-evaluation and projection collapse."""
    shingles_expr = (
        f"transform(array({_TOKENIZE}), t -> "
        f"transform(sequence(0, greatest(size(t) - {k}, 0)), "
        f"i -> array_join(slice(t, i + 1, {k}), ' ')))[0]"
    )
    return documents.select(
        "doc_id",
        F.explode(F.expr(shingles_expr)).alias("shingle"),
    )


def shingles(documents: DataFrame, k: int = 5) -> DataFrame:
    """(doc_id, shingle) — k-gram token shingles, deduped per doc."""
    return _shingle_stream(documents, k).dropDuplicates(["doc_id", "shingle"])


def shingle_hashes(documents: DataFrame, k: int = 5) -> DataFrame:
    """(doc_id, x) — the FULL 60-bit md5 fingerprints of a doc's DISTINCT
    shingles. Dedup and all downstream joins happen on the 8-byte hash,
    not the variable-width shingle string — same values as dedup-by-string
    unless md5-60 collides (expected colliding pairs at N distinct
    shingles ≈ N²/2⁶¹: ~0.0007 at the 39M-shingle bench corpus — set
    semantics are safe far past 10⁹ shingles; do NOT reduce mod P here,
    that would shrink identity to 31 bits and make collisions routine —
    the minhash affine family applies its own mod-P reduction). Profiled
    at 200k docs / 39M shingles: the string-keyed dedup shuffle was the
    single largest cost in the whole minhash pipeline."""
    return (
        _shingle_stream(documents, k)
        .select("doc_id", _md5_60("shingle").alias("x"))
        .dropDuplicates(["doc_id", "x"])
    )


def decontaminate(documents: DataFrame, probes: DataFrame, k: int = 13) -> DataFrame:
    """(doc_id, contaminated) over the FULL corpus: contaminated = the
    document shares at least one k-token shingle with ANY probe document —
    the benchmark-decontamination stage of a training pipeline (GPT-3
    appendix C / Lee et al. 2022 use 13-gram overlap against test sets).

    ``probes`` is a (doc_id, text, ...) table of the protected documents
    (benchmark test sets). Plan shape: the probe shingle-hash set is
    DISTINCT (tiny — benchmarks are small relative to any training
    corpus — and broadcast EXPLICITLY: size estimates after an aggregate
    are unreliable, and a fallback sort-merge join would shuffle the
    whole corpus shingle stream), the corpus side is ONE RAW shingle
    pass semi-joined against it — the semi-join needs no per-doc set
    semantics, so the former per-(doc_id, x) dedup exchange of the full
    corpus stream is dropped outright; never a corpus self-join, and the
    corpus never shuffles its text: only the post-semi-join doc_id hits
    move. Same md5-60 shingles as the near-dup family, so the DuckDB
    oracle reproduces every value (oracle_sql.decontaminate_sql)."""
    probe_sh = (
        _shingle_stream(probes, k).select(_md5_60("shingle").alias("x")).distinct()
    )
    flagged = (
        _shingle_stream(documents, k)
        .select("doc_id", _md5_60("shingle").alias("x"))
        .join(F.broadcast(probe_sh), "x", "left_semi")
        .select("doc_id")
        .distinct()
    )
    return (
        documents.select("doc_id")
        .join(flagged.withColumn("c", F.lit(True)), "doc_id", "left")
        .select("doc_id", F.coalesce(F.col("c"), F.lit(False)).alias("contaminated"))
    )


def minhash_signatures(
    documents: DataFrame, num_hashes: int = 32, k: int = 5, seed: int = 42
) -> DataFrame:
    """(doc_id, sig: array<long>) — per-doc minhash signature.

    One md5 per shingle (x = first 60 bits, reduced mod P), then
    h_i(x) = (a_i·x + b_i) mod P per hash — sig[i] = min over the doc's
    shingles. One explode + one groupBy; the signature aggregate is
    ``array(min(h_0), ..., min(h_{n-1}))``, all map-side combinable, and
    every value is reproducible in ANSI SQL (oracle_sql.minhash_pairs_sql).

    Duplicate shingles are NOT deduped first: min is idempotent, so the
    signature is identical with or without the dedup — skipping it removes
    the pipeline's largest shuffle (39M string rows at the 200k-doc bench)
    and leaves only the map-side-combined 200k partial-aggregate rows.
    """
    sh = _shingle_stream(documents, k).select(
        "doc_id", (_md5_60("shingle") % MINHASH_PRIME).alias("x")
    )
    mins = [
        F.min((F.lit(a) * F.col("x") + F.lit(b)) % MINHASH_PRIME).alias(f"h{i}")
        for i, (a, b) in enumerate(minhash_params(num_hashes, seed))
    ]
    agg = sh.groupBy("doc_id").agg(*mins)
    return agg.select(
        "doc_id", F.array(*[F.col(f"h{i}") for i in range(num_hashes)]).alias("sig")
    )


def _banded_buckets(
    documents: DataFrame, num_hashes: int, bands: int, k: int, seed: int
) -> DataFrame:
    """(doc_id, sig, band, bucket) — one row per (doc, band); bucket is the
    60-bit md5 of the band's comma-joined signature values (an 8-byte
    shuffle key in BOTH engines, instead of a variable-width string)."""
    if bands <= 0 or num_hashes % bands != 0:
        raise ValueError(
            f"bands ({bands}) must evenly divide num_hashes ({num_hashes}) — "
            f"otherwise trailing hashes are silently ignored (or, with "
            f"bands > num_hashes, every doc lands in ONE bucket and the "
            f"bucket join degenerates to an all-pairs product)"
        )
    rows = num_hashes // bands
    sig = minhash_signatures(documents, num_hashes=num_hashes, k=k, seed=seed)
    band_key = lambda b: F.expr(  # noqa: E731
        _md5_60_sql(
            "concat_ws(',', "
            + ", ".join(f"sig[{b * rows + r}]" for r in range(rows))
            + ")"
        )
    )
    return sig.select(
        "doc_id",
        "sig",
        F.explode(
            F.array(
                *[
                    F.struct(F.lit(b).alias("band"), band_key(b).alias("bucket"))
                    for b in range(bands)
                ]
            )
        ).alias("bb"),
    ).select(
        "doc_id", "sig", F.col("bb.band").alias("band"), F.col("bb.bucket").alias("bucket")
    )


def _capped(banded: DataFrame, max_bucket_size: int | None) -> DataFrame:
    """Drop (band, bucket) groups larger than the cap BEFORE the self-join
    — the SCALING.md cliff-#3 guard: one boilerplate bucket (a license
    header shared by n docs) otherwise costs O(n²) join rows."""
    if max_bucket_size is None:
        return banded
    sizes = banded.groupBy("band", "bucket").agg(F.count("*").alias("bsz"))
    return (
        banded.join(sizes, ["band", "bucket"])
        .filter(F.col("bsz") <= max_bucket_size)
        .drop("bsz")
    )


def minhash_dropped_buckets(
    documents: DataFrame,
    num_hashes: int = 32,
    bands: int = 8,
    k: int = 5,
    seed: int = 42,
    max_bucket_size: int | None = 10_000,
) -> DataFrame:
    """(band, bucket, size) for every bucket the cap excluded — the audit
    trail for what minhash_candidate_pairs skipped. Empty when nothing was
    dropped. Persist/inspect this whenever the cap is in play; silently
    capped coverage reads as 'covered everything' when it didn't."""
    banded = _banded_buckets(documents, num_hashes, bands, k, seed)
    sizes = banded.groupBy("band", "bucket").agg(F.count("*").alias("size"))
    if max_bucket_size is None:
        return sizes.filter(F.lit(False))
    return sizes.filter(F.col("size") > max_bucket_size)


def minhash_candidate_pairs(
    documents: DataFrame,
    num_hashes: int = 32,
    bands: int = 8,
    k: int = 5,
    seed: int = 42,
    max_bucket_size: int | None = 10_000,
) -> DataFrame:
    """LSH near-dup candidates: (doc_a, doc_b, est_jaccard), doc_a < doc_b.

    Signatures are split into ``bands`` bands of num_hashes/bands rows;
    docs sharing any band land in a bucket; bucket self-join emits pairs.
    est_jaccard = fraction of matching signature positions. The bucket
    join is the only shuffle over pairs — never an all-pairs product —
    and buckets larger than ``max_bucket_size`` are excluded from the
    join entirely (boilerplate guard; see minhash_dropped_buckets for the
    audit of what was skipped). Docs in an oversized bucket can still
    pair through their other, selective bands — the drop costs recall
    only for pairs whose EVERY matching band is boilerplate.
    """
    # materialize the banded table ONCE before it fans out (cap sizes +
    # both self-join sides): un-checkpointed, Catalyst re-executes the
    # ENTIRE tokenize→shingle→md5→signature pipeline per consumer — 4
    # recomputes of the pipeline's most expensive stage (profiled r04 at
    # 200k docs: candidates 45 s of which banding is ~11 s; checkpoint
    # cuts the stage to ~1 pipeline pass). localCheckpoint stores
    # MEMORY_AND_DISK, so the 8-rows/doc table spills rather than OOMs.
    banded = _capped(
        _banded_buckets(documents, num_hashes, bands, k, seed).localCheckpoint(
            eager=True
        ),
        max_bucket_size,
    )
    a = banded.select(
        F.col("band"), F.col("bucket"), F.col("doc_id").alias("doc_a"), F.col("sig").alias("sig_a")
    )
    b = banded.select(
        F.col("band"), F.col("bucket"), F.col("doc_id").alias("doc_b"), F.col("sig").alias("sig_b")
    )
    pairs = (
        a.join(b, ["band", "bucket"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .dropDuplicates(["doc_a", "doc_b"])
    )
    est = F.expr(
        "aggregate(zip_with(sig_a, sig_b, (x, y) -> CASE WHEN x = y THEN 1 ELSE 0 END), "
        "0, (acc, v) -> acc + v)"
    ) / F.lit(float(num_hashes))
    return pairs.select("doc_a", "doc_b", F.round(est, 6).alias("est_jaccard"))


def simhash(documents: DataFrame, bits: int = 60) -> DataFrame:
    """(doc_id, simhash: long) — 60-bit SimHash over whitespace tokens.

    Per token, md5 gives the fingerprint bits (60 = what one md5 yields as
    a positive int64 — see _md5_60_sql; the width is a quality/cost knob,
    not a semantic constant); each bit votes +1/-1 weighted by term
    frequency; the sign vector is the fingerprint. Expressed as one
    explode + groupBy with per-bit conditional sums (JVM expressions),
    value-reproducible in the SQL oracle (oracle_sql.simhash_sql)."""
    if not 1 <= bits <= 60:
        raise ValueError(f"bits must be in [1, 60], got {bits}")
    toks = documents.select(
        "doc_id", F.explode(F.expr(_TOKENIZE)).alias("tok")
    ).withColumn("h", _md5_60("tok"))
    votes = [
        F.sum(
            F.when(F.expr(f"shiftright(h, {i}) & 1") == 1, F.lit(1)).otherwise(F.lit(-1))
        ).alias(f"b{i}")
        for i in range(bits)
    ]
    agg = toks.groupBy("doc_id").agg(*votes)
    bit_terms = [
        F.when(
            F.col(f"b{i}") > 0, F.expr(f"shiftleft(CAST(1 AS BIGINT), {i})")
        ).otherwise(F.lit(0).cast("long"))
        for i in range(bits)
    ]
    fingerprint = bit_terms[0]
    for t in bit_terms[1:]:
        fingerprint = fingerprint.bitwiseOR(t)
    return agg.select("doc_id", fingerprint.alias("simhash"))


def ngram_jaccard_pairs(
    documents: DataFrame,
    k: int = 5,
    min_jaccard: float = 0.5,
    max_doc_freq: int | None = None,
) -> DataFrame:
    """Exact n-gram Jaccard over shingle sets, restricted to pairs sharing
    ≥1 shingle (inverted-index join — no all-pairs product):
    (doc_a, doc_b, jaccard), doc_a < doc_b, jaccard ≥ min_jaccard.

    ``max_doc_freq`` drops stop-shingles (those occurring in more than
    that many docs) from the INVERTED INDEX only — the hub guard for
    boilerplate corpora, where one license-header shingle otherwise
    drives an O(n²) join. Set sizes still count every shingle but
    intersections flowing through dropped shingles are not counted, so
    with the cap set the reported jaccard is a LOWER BOUND and pairs
    whose only shared shingles are stop-shingles are missed entirely
    (recall traded, never precision). Default None = exact (the
    oracle-checked gate configuration).

    The index keys on the 60-bit shingle hash (shingle_hashes), not the
    string — same jaccard values modulo md5-60 collisions, 8-byte shuffle
    keys."""
    # one materialization before the fan-out (sizes + index + both join
    # sides) — see minhash_candidate_pairs
    sh = shingle_hashes(documents, k=k).localCheckpoint(eager=True)
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("sz"))
    idx = sh
    if max_doc_freq is not None:
        df_counts = sh.groupBy("x").agg(F.count("*").alias("df"))
        idx = (
            sh.join(df_counts, "x")
            .filter(F.col("df") <= max_doc_freq)
            .drop("df")
        )
    a = idx.select(F.col("x"), F.col("doc_id").alias("doc_a"))
    b = idx.select(F.col("x"), F.col("doc_id").alias("doc_b"))
    inter = (
        a.join(b, "x")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("inter"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("sz").alias("sz_a"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("sz").alias("sz_b"))
    return (
        inter.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.round(
                F.col("inter")
                / (F.col("sz_a") + F.col("sz_b") - F.col("inter")).cast("double"),
                6,
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= min_jaccard)
    )


def containment_pairs(
    documents: DataFrame,
    k: int = 5,
    min_containment: float = 0.8,
    max_doc_freq: int | None = None,
) -> DataFrame:
    """Asymmetric shingle containment (Broder's resemblance companion):
    one row per unordered pair sharing ≥1 shingle with

        (doc_a, doc_b, c_ab, c_ba),  doc_a < doc_b,
        c_ab = |A∩B| / |A|,  c_ba = |A∩B| / |B|,
        max(c_ab, c_ba) ≥ min_containment

    Jaccard misses SUBSET duplicates by construction: a document pasted
    whole into a 10× larger one has jaccard ≤ 0.1 but containment 1.0 —
    the quote-embedding / aggregator-page case every near-dup pipeline
    hits. Same inverted-index join as ngram_jaccard_pairs (pairs exist
    only where a shared shingle does; ``max_doc_freq`` is the same
    stop-shingle recall-for-precision guard), one extra division.
    Shingle sets are DISTINCT hashes, so both denominators are ≥ inter
    and the divisions cannot hit 0 (empty-shingle docs produce no index
    rows at all)."""
    sh = shingle_hashes(documents, k=k).localCheckpoint(eager=True)
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("sz"))
    idx = sh
    if max_doc_freq is not None:
        df_counts = sh.groupBy("x").agg(F.count("*").alias("df"))
        idx = sh.join(df_counts, "x").filter(F.col("df") <= max_doc_freq).drop("df")
    a = idx.select(F.col("x"), F.col("doc_id").alias("doc_a"))
    b = idx.select(F.col("x"), F.col("doc_id").alias("doc_b"))
    inter = (
        a.join(b, "x")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("inter"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("sz").alias("sz_a"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("sz").alias("sz_b"))
    return (
        inter.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.round(F.col("inter") / F.col("sz_a").cast("double"), 6).alias("c_ab"),
            F.round(F.col("inter") / F.col("sz_b").cast("double"), 6).alias("c_ba"),
        )
        .filter(F.greatest("c_ab", "c_ba") >= min_containment)
    )


# ----------------------------------------------------------- dedup clusters
# Stage numbering inside a CheckpointStore run: candidates → verified →
# component rounds. One store = one resumable pipeline.
_DEDUP_CAND_IT = 0
_DEDUP_VERIFIED_IT = 1
_DEDUP_COMP_BASE = 2


def _components_over_pairs(
    pairs: DataFrame,
    max_iterations: int = 50,
    store=None,
    iter_base: int = _DEDUP_COMP_BASE,
) -> DataFrame:
    """(doc_id, cluster_id) — connected components of the PAIR graph only
    (vertices = docs appearing in ≥1 pair; callers attach singletons).

    Hash-min label propagation WITH per-round pointer jumping, the same
    writeMin plan as operators/wcc.py (wcc.c:30-42) but over arbitrary
    sparse ids: no dense [0, V) vertex set is materialized, so the
    iteration state is O(duplicated docs), not O(corpus). Plain hash-min
    advances the min label ONE hop per round (O(diameter) rounds — a
    60-doc serial edit chain would blow a 50-round bound); the added
    label-compression join (cluster_id ← label of my label) doubles the
    reach each round, so convergence is O(log diameter) and 50 rounds
    covers any graph that fits in a datacenter.

    ``store`` commits each round's (doc_id, old, cluster_id) at iteration
    ``iter_base + round`` (runner.CheckpointStore); a relaunch reloads the
    highest committed round and continues — the `old` column makes the
    convergence check reconstructible from stored state alone.
    """
    sym = pairs.select(
        F.col("doc_a").alias("src"), F.col("doc_b").alias("dst")
    ).unionByName(
        pairs.select(F.col("doc_b").alias("src"), F.col("doc_a").alias("dst"))
    )
    sym = sym.localCheckpoint(eager=True)

    ckpt = Checkpoints(store=store)
    start = 0
    resumed = ckpt.resume()
    if resumed is not None and resumed >= iter_base:
        loaded = store.load(resumed)
        labels = loaded.select("doc_id", "cluster_id")
        if loaded.filter(F.col("cluster_id") < F.col("old")).isEmpty():
            return labels  # stored state already at fixpoint
        start = resumed - iter_base + 1
    else:
        labels = (
            sym.select(F.col("src").alias("doc_id"))
            .distinct()
            .withColumn("cluster_id", F.col("doc_id"))
            .localCheckpoint(eager=True)
        )
    for _round in range(start, max_iterations):
        pushed = (
            sym.join(labels, sym["src"] == labels["doc_id"])
            .groupBy(F.col("dst").alias("doc_id"))
            .agg(F.min("cluster_id").alias("pushed"))
        )
        stepped = labels.join(pushed, "doc_id", "left").select(
            "doc_id",
            F.col("cluster_id").alias("old"),
            F.least(
                F.col("cluster_id"),
                F.coalesce(F.col("pushed"), F.col("cluster_id")),
            ).alias("cluster_id"),
        )
        # pointer jumping: follow my label's label (labels are doc ids, so
        # the label table itself is the parent function) — path halving
        # turns the one-hop propagation into doubling reach per round
        parent = labels.select(
            F.col("doc_id").alias("cluster_id"), F.col("cluster_id").alias("grand")
        )
        merged = stepped.join(parent, "cluster_id", "left").select(
            "doc_id",
            "old",
            F.least(
                F.col("cluster_id"), F.coalesce(F.col("grand"), F.col("cluster_id"))
            ).alias("cluster_id"),
        )
        # lazy without a store: the changed-count below is the round's
        # single job — it materializes the checkpoint AND returns the
        # convergence statistic (same shape as the r03 BFS fix; VERDICT r03 #3)
        merged = ckpt.cut(merged, iter_base + _round, eager=False)
        changed = merged.filter(F.col("cluster_id") < F.col("old")).count()
        labels = merged.select("doc_id", "cluster_id")
        if changed == 0:
            return labels
    raise RuntimeError(
        f"_components_over_pairs did not converge in {max_iterations} rounds — "
        f"with pointer jumping that needs diameter > ~2^{max_iterations}; "
        f"this indicates a bug, not a big graph"
    )


def dedup_clusters(
    documents: DataFrame,
    num_hashes: int = 32,
    bands: int = 8,
    k: int = 5,
    seed: int = 42,
    min_jaccard: float = 0.6,
    max_bucket_size: int | None = 10_000,
    store=None,
) -> DataFrame:
    """(doc_id, cluster_id, keep) — the actual deliverable of a
    training-data dedup stage: WHICH DOC TO KEEP, not candidate pairs.

    Composition (each stage is an operator this module already ships):
      1. minhash LSH candidates  (recall stage, bucket join, capped)
      2. exact n-gram Jaccard verify on candidates only (precision stage;
         the shingle index is first semi-joined down to candidate docs,
         so the verify cost scales with duplicates found, not corpus size)
      3. connected components over verified pairs (hash-min fixpoint —
         transitive closure: A≈B, B≈C ⇒ one cluster even if A,C never
         paired), sparse-id, O(duplicates) state
      4. keep-list: cluster_id = min doc_id of the cluster (hash-min gives
         exactly that), keep = (doc_id == cluster_id); docs in no verified
         pair are their own singleton cluster with keep = true.

    ``store`` (runner.CheckpointStore) makes the whole pipeline durable —
    this is the longest-running docs stage at scale, so a crash must not
    restart it from zero (VERDICT r02 'What's missing' #2): candidates
    commit at iteration 0, verified pairs at 1, each component round at
    2+r. A relaunch with the same store skips every completed stage and
    continues the component loop mid-fixpoint. The caller must pass the
    SAME parameters on relaunch (stage outputs are parameter-dependent;
    the store does not fingerprint them).
    """
    ckpt = Checkpoints(store=store)
    latest = ckpt.resume()

    # materialize the candidate set ONCE: it fans out three ways below
    # (cand_docs, the intersection probe, and nothing else re-runs the
    # whole LSH pipeline per reference)
    if latest is not None and latest >= _DEDUP_CAND_IT:
        cand = store.load(_DEDUP_CAND_IT)
    else:
        cand = minhash_candidate_pairs(
            documents,
            num_hashes=num_hashes,
            bands=bands,
            k=k,
            seed=seed,
            max_bucket_size=max_bucket_size,
        ).select("doc_a", "doc_b")
        cand = ckpt.cut(cand, _DEDUP_CAND_IT)

    # exact verify, driven BY the candidate pairs: attach doc_a's shingles
    # to each pair, then equi-join on (doc_b, shingle) — each probe matches
    # at most one row (shingles are deduped per doc), so the cost is
    # |candidates| × shingles-per-doc, LINEAR in the candidate set. The
    # earlier inverted-index formulation (shingle self-join filtered to
    # candidates afterwards) went quadratic on boilerplate shingle hubs —
    # a license prefix shared by 40% of a 200k-doc bench corpus turned one
    # shingle into a 20k×20k join and made this stage 6× slower than the
    # LSH recall stage it was verifying. Caught by bench.py's big_docs run.
    if latest is not None and latest >= _DEDUP_VERIFIED_IT:
        verified = store.load(_DEDUP_VERIFIED_IT)
    else:
        cand_docs = (
            cand.select(F.col("doc_a").alias("doc_id"))
            .unionByName(cand.select(F.col("doc_b").alias("doc_id")))
            .distinct()
        )
        # semi-join the DOCUMENTS down to candidates BEFORE the shingle
        # explode: Catalyst does not push a semi-join below a Generate, so
        # the former explode-then-semi-join shape re-tokenized and re-md5'd
        # the ENTIRE corpus just to verify the (much smaller) candidate
        # set — this makes the verify stage linear in candidate DOCS, not
        # corpus size (VERDICT r03 'Next round' #7). Identical output:
        # shingle_hashes(docs ⋉ cand) ≡ shingle_hashes(docs) ⋉ cand.
        # (no broadcast hint: the candidate-doc set is O(duplicates) and
        # can be huge at corpus scale — AQE picks broadcast when it fits)
        sh = shingle_hashes(
            documents.join(cand_docs, "doc_id", "left_semi"), k=k
        ).localCheckpoint(eager=True)  # fans out to sizes + both probe sides
        sizes = sh.groupBy("doc_id").agg(F.count("*").alias("sz"))
        a = sh.select(F.col("doc_id").alias("doc_a"), "x")
        b = sh.select(F.col("doc_id").alias("doc_b"), "x")
        inter = (
            cand.join(a, "doc_a")
            .join(b, ["doc_b", "x"])
            .groupBy("doc_a", "doc_b")
            .agg(F.count("*").alias("inter"))
        )
        sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("sz").alias("sz_a"))
        sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("sz").alias("sz_b"))
        verified = (
            inter.join(sa, "doc_a")
            .join(sb, "doc_b")
            .filter(
                F.col("inter")
                / (F.col("sz_a") + F.col("sz_b") - F.col("inter")).cast("double")
                >= min_jaccard
            )
            .select("doc_a", "doc_b")
        )
        # referenced twice by the symmetrizing union in components — the
        # checkpoint/commit keeps the verify join from running per branch
        verified = ckpt.cut(verified, _DEDUP_VERIFIED_IT)

    comp = _components_over_pairs(verified, store=store)
    return (
        documents.select("doc_id")
        .join(comp, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce(F.col("cluster_id"), F.col("doc_id")).alias("cluster_id"),
            (
                F.col("doc_id")
                == F.coalesce(F.col("cluster_id"), F.col("doc_id"))
            ).alias("keep"),
        )
    )


def quality_filter(
    documents: DataFrame,
    min_tokens: int = 10,
    max_tokens: int = 100_000,
    min_mean_token_len: float = 2.0,
    max_mean_token_len: float = 12.0,
    max_punct_ratio: float = 0.3,
    min_stopword_ratio: float = 0.0,
) -> DataFrame:
    """(doc_id, keep) — C4/Gopher-style heuristic quality gate composed
    from :func:`token_stats` (length band, mean-token-length band,
    punctuation ceiling, stopword floor): the standard pre-training
    filter stage that sits beside dedup in every corpus pipeline. Pure
    JVM expressions; thresholds are the usual published defaults, all
    overridable. Compose with the keep-list as a semi-join:
    ``documents.join(quality_filter(d).filter("keep"), "doc_id", "left_semi")``.
    """
    s = token_stats(documents)
    keep = (
        (F.col("n_tokens") >= min_tokens)
        & (F.col("n_tokens") <= max_tokens)
        & (F.col("mean_token_len") >= min_mean_token_len)
        & (F.col("mean_token_len") <= max_mean_token_len)
        & (F.col("punct_ratio") <= max_punct_ratio)
        & (F.col("stopword_ratio") >= min_stopword_ratio)
    )
    return s.select("doc_id", keep.alias("keep"))


# PII scrub patterns — ASCII-anchored so Java regex (Spark) and RE2
# (DuckDB) agree byte-for-byte; the URL tail uses the explicit whitespace
# class (not \s) for the same \x0B reason as _BPE_REGEX
PII_EMAIL = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z][A-Za-z]+"
PII_URL = "https?://[^ \\t\\n\\x0B\\f\\r]+"
PII_IP = "[0-9]+\\.[0-9]+\\.[0-9]+\\.[0-9]+"


def pii_scrub(documents: DataFrame) -> DataFrame:
    """(doc_id, clean_text, n_emails, n_urls, n_ips) — redact emails,
    URLs, and IPv4-shaped tokens to ``<EMAIL>``/``<URL>``/``<IP>``
    placeholders, with per-pattern hit counts over the ORIGINAL text
    (an IP inside a URL counts toward both; the rewrite applies email →
    URL → IP in that order so the URL pass consumes any address embedded
    in it). The standard pre-training scrub stage between dedup and
    quality filtering. Pure JVM regexp expressions — one projection, no
    shuffle; counts are exact longs."""
    clean = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(F.col("text"), PII_EMAIL, "<EMAIL>"),
            PII_URL,
            "<URL>",
        ),
        PII_IP,
        "<IP>",
    )
    # column-function form (not F.expr): the pattern reaches Java regex
    # directly, with no SQL-string-literal escape pass to corrupt \. or
    # \x0B (the _BPE_REGEX quadruple-backslash trap)
    def hits(pat: str) -> Column:
        return F.size(
            F.regexp_extract_all(F.col("text"), F.lit(pat), F.lit(0))
        ).cast("long")

    return documents.select(
        "doc_id",
        clean.alias("clean_text"),
        hits(PII_EMAIL).alias("n_emails"),
        hits(PII_URL).alias("n_urls"),
        hits(PII_IP).alias("n_ips"),
    )


def tf_idf_top_terms(documents: DataFrame, top_k: int = 5) -> DataFrame:
    """(doc_id, term, tf, tfidf) — the ``top_k`` highest-TF-IDF whitespace
    terms per document: tf = in-doc term count, idf = ln(N / df) with N
    the corpus size and df the term's document frequency, tfidf rounded
    to 6 dp BEFORE the ranking so the (tfidf DESC, term ASC) order is
    identical across engines (an unrounded sort could flip the k-boundary
    on a last-ulp ln() difference). The standard keyword/topic-signal
    stage of a corpus pipeline (salient-term extraction, near-dup triage,
    retrieval features).

    Plan shape: one explode + (doc_id, term) aggregate (map-side
    combinable), a term-keyed df aggregate REUSING that result (no second
    corpus scan), a broadcast 1-row N, and a per-doc window top-k — three
    shuffles total, all on bounded keys; nothing driver-side."""
    toks = documents.select(
        "doc_id", F.explode(F.expr(_TOKENIZE)).alias("term")
    ).filter(F.col("term") != "")
    tf = toks.groupBy("doc_id", "term").agg(F.count("*").alias("tf"))
    dfreq = tf.groupBy("term").agg(F.count("*").alias("df"))
    n = documents.agg(F.count("*").alias("n"))
    scored = (
        tf.join(dfreq, "term")
        .crossJoin(F.broadcast(n))
        .select(
            "doc_id",
            "term",
            "tf",
            F.round(F.col("tf") * F.log(F.col("n") / F.col("df")), 6).alias("tfidf"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("tfidf"), F.asc("term"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= top_k)
        .drop("rn")
    )


def pmi_collocations(
    documents: DataFrame, min_count: int = 5, top_k: int = 30
) -> DataFrame:
    """(w1, w2, cnt, pmi) — the ``top_k`` corpus-level collocations by
    pointwise mutual information over whitespace bigrams:

        pmi(w1,w2) = ln [ (c12/N_bi) / ((c1/N_uni) · (c2/N_uni)) ]

    with c12 the bigram instance count (≥ ``min_count``), c1/c2 unigram
    instance counts, N_bi/N_uni the corpus totals. The standard
    phrase-mining / tokenizer-seeding signal of a corpus pipeline
    (Mikolov-style phrase detection); pmi is rounded to 6 dp BEFORE the
    ranking and ties break on (w1, w2), so the k-boundary is identical
    across engines (the tf_idf_top_terms rule).

    Plan shape: bigrams built INSIDE each doc's token array (the
    lm_cross_entropy bound-once lambda) then aggregated to corpus
    (w1, w2) counts, which are lazily checkpointed — two consumers, the
    N_bi total and the scoring join (the fan-out recompute pitfall);
    likewise the unigram counts (three consumers: c1 join, c2 join,
    N_uni). The final global top-k is orderBy().limit() — Catalyst's
    TakeOrderedAndProject, a per-partition heap + driver merge of k
    rows, never a single-partition global sort."""
    tt = "filter(" + _TOKENIZE + ", s -> s != '')"
    bg = (
        f"transform(array({tt}), t -> "
        f"CASE WHEN size(t) >= 2 THEN "
        f"transform(sequence(2, size(t)), "
        f"i -> struct(element_at(t, i - 1) AS w1, element_at(t, i) AS w2)) "
        f"ELSE array() END)[0]"
    )
    bi = (
        documents.select(F.explode(F.expr(bg)).alias("b"))
        .groupBy(F.col("b.w1").alias("w1"), F.col("b.w2").alias("w2"))
        .agg(F.count("*").alias("cnt"))
        .localCheckpoint(eager=False)
    )
    uni = (
        documents.select(F.explode(F.expr(tt)).alias("w"))
        .groupBy("w")
        .agg(F.count("*").alias("c"))
        .localCheckpoint(eager=False)
    )
    totals = (
        bi.agg(F.sum("cnt").cast("double").alias("nb"))
        .crossJoin(uni.agg(F.sum("c").cast("double").alias("nu")))
    )
    c1 = uni.select(F.col("w").alias("w1"), F.col("c").alias("c1"))
    c2 = uni.select(F.col("w").alias("w2"), F.col("c").alias("c2"))
    scored = (
        bi.filter(F.col("cnt") >= min_count)
        .join(c1, "w1")
        .join(c2, "w2")
        .crossJoin(F.broadcast(totals))
        .select(
            "w1",
            "w2",
            "cnt",
            F.round(
                F.log(
                    (F.col("cnt") / F.col("nb"))
                    / ((F.col("c1") / F.col("nu")) * (F.col("c2") / F.col("nu")))
                ),
                6,
            ).alias("pmi"),
        )
    )
    return scored.orderBy(F.desc("pmi"), "w1", "w2").limit(top_k)


def bpe_train(
    documents: DataFrame, merges: int = 8, max_words: int | None = None
) -> DataFrame:
    """(rank, lhs, rhs, cnt) — the first ``merges`` byte-pair-encoding
    merge rules learned from the corpus (Sennrich et al. 2016): start
    from the per-character symbol sequence of every distinct whitespace
    word (weighted by its corpus count), and per round (a) find the
    adjacent symbol pair with the highest total count — ties broken
    (cnt DESC, lhs, rhs) so the rule sequence is deterministic — then
    (b) apply it greedily LEFT-TO-RIGHT inside every word (in 'aaa',
    pair (a,a) merges positions 1-2, not 2-3). ``cnt`` is the pair's
    corpus count at merge time. The tokenizer-training stage of a
    pre-training pipeline, distributed: the reference semantics are the
    sequential Sennrich loop, reproduced exactly.

    Scale shape: all per-round state is the DISTINCT-WORD table
    (``max_words`` caps it to the top-V words by count via a distributed
    TakeOrdered — the standard word-frequency-dict formulation, so 100 TB
    of text collapses to a vocabulary-sized state after one pass). Per
    round: one in-array pair explode + aggregate (map-side combinable)
    feeding a 1-row TakeOrdered argmax — the per-round ``.collect()`` is
    that single best-pair statistic, never data — and one fold projection
    (F.aggregate HOF, JVM-side) that applies the merge in-array; the
    state is lazily localCheckpointed per round (next round's pairs agg
    and the fold both consume it). Greedy-left is encoded in the fold
    itself: a merged symbol is lhs||rhs which never equals lhs (rhs
    nonempty), so the fold's look-back can never chain-merge through a
    just-merged position. Training stops early if no adjacent pair is
    left (every word fully merged). For real vocab sizes (~50k merges)
    the per-round driver argmax round-trip dominates; production
    variants batch the top-M pairwise-disjoint rules per round — kept
    exact here for oracle parity."""
    if merges < 0:
        raise ValueError(f"merges must be >= 0, got {merges}")
    spark = documents.sparkSession
    tt = "filter(" + _TOKENIZE + ", s -> s != '')"
    words = (
        documents.select(F.explode(F.expr(tt)).alias("word"))
        .groupBy("word")
        .agg(F.count("*").alias("cnt"))
    )
    if max_words is not None:
        words = words.orderBy(F.desc("cnt"), "word").limit(int(max_words))
    state = words.select(
        "cnt",
        F.expr(
            "transform(sequence(1, length(word)), i -> substr(word, i, 1))"
        ).alias("s"),
    ).localCheckpoint(eager=False)
    pairs_expr = F.expr(
        "CASE WHEN size(s) >= 2 THEN "
        "transform(sequence(1, size(s) - 1), "
        "i -> struct(element_at(s, i) AS a, element_at(s, i + 1) AS b)) "
        "ELSE CAST(array() AS array<struct<a:string,b:string>>) END"
    )
    rules: list[tuple[int, str, str, int]] = []
    for k in range(1, merges + 1):
        best = (
            state.select(F.explode(pairs_expr).alias("p"), "cnt")
            .groupBy(F.col("p.a").alias("a"), F.col("p.b").alias("b"))
            .agg(F.sum("cnt").alias("c"))
            .orderBy(F.desc("c"), "a", "b")
            .limit(1)
            .collect()
        )
        if not best:
            break
        a, b, c = best[0]["a"], best[0]["b"], int(best[0]["c"])
        rules.append((k, a, b, c))
        def make_fold(a=a, b=b):
            la, lb, lab = F.lit(a), F.lit(b), F.lit(a + b)

            def fold(acc, s):
                # F.get (0-indexed, NULL out-of-bounds) not element_at:
                # ANSI mode errors on element_at(empty, -1) and Catalyst
                # does not guarantee short-circuit of the size() guard
                last = F.get(acc, F.size(acc) - 1)
                return F.when(
                    (last == la) & (s == lb),
                    F.concat(F.slice(acc, 1, F.size(acc) - 1), F.array(lab)),
                ).otherwise(F.concat(acc, F.array(s)))

            return fold

        fold = make_fold()

        state = state.select(
            "cnt",
            F.aggregate(
                "s", F.expr("CAST(array() AS array<string>)"), fold
            ).alias("s"),
        ).localCheckpoint(eager=False)
    return spark.createDataFrame(
        rules, "rank long, lhs string, rhs string, cnt long"
    )


def bpe_token_counts(
    documents: DataFrame, merges: int = 8, max_words: int | None = None
) -> DataFrame:
    """(doc_id, n_tokens) — per-document token count under the BPE
    vocabulary just trained by ``bpe_train`` on this same corpus: learn
    the first ``merges`` rules, apply them (same greedy-left fold) to
    every distinct word, then charge each document Σ len(bpe(word)) over
    its word instances. The token-budget accounting stage a pipeline
    runs between tokenizer training and sequence packing. Zero-token
    docs report 0.

    Scale shape: the rules come back from bpe_train's per-round argmax
    (a ``merges``-row driver artifact, the IVF-centroid pattern); they
    are applied to the DISTINCT-WORD table — one fold projection per
    rule over vocab-sized state, never over the corpus — and the
    per-word token length joins the corpus's (doc_id, word) instance
    counts on the word key. With a capped training dict (``max_words``)
    the rules still APPLY to every distinct word — rare words simply
    merge only where a learned pair happens to match, exactly like
    out-of-domain text under a production tokenizer."""
    rules = [
        (r["lhs"], r["rhs"])
        for r in bpe_train(documents, merges=merges, max_words=max_words)
        .orderBy("rank")
        .collect()
    ]
    tt = "filter(" + _TOKENIZE + ", s -> s != '')"
    inst = (
        documents.select("doc_id", F.explode(F.expr(tt)).alias("word"))
        .groupBy("doc_id", "word")
        .agg(F.count("*").alias("n"))
        .localCheckpoint(eager=False)  # consumers: word dict + the join
    )
    wlen = inst.select("word").distinct().select(
        "word",
        F.expr(
            "transform(sequence(1, length(word)), i -> substr(word, i, 1))"
        ).alias("s"),
    )
    for a, b in rules:
        la, lb, lab = F.lit(a), F.lit(b), F.lit(a + b)

        def make_fold(la=la, lb=lb, lab=lab):
            def fold(acc, s):
                last = F.get(acc, F.size(acc) - 1)
                return F.when(
                    (last == la) & (s == lb),
                    F.concat(F.slice(acc, 1, F.size(acc) - 1), F.array(lab)),
                ).otherwise(F.concat(acc, F.array(s)))

            return fold

        wlen = wlen.select(
            "word",
            F.aggregate(
                "s", F.expr("CAST(array() AS array<string>)"), make_fold()
            ).alias("s"),
        )
    wlen = wlen.select("word", F.size("s").cast("long").alias("toks"))
    per_doc = (
        inst.join(wlen, "word")
        .groupBy("doc_id")
        .agg(F.sum(F.col("n") * F.col("toks")).alias("n_tokens"))
    )
    return documents.join(per_doc, "doc_id", "left").select(
        "doc_id", F.coalesce("n_tokens", F.lit(0)).cast("long").alias("n_tokens")
    )


def dsir_log_weights(
    documents: DataFrame, target_predicate: str, buckets: int = 4096
) -> DataFrame:
    """(doc_id, logw) — DSIR importance log-weights (Xie et al. 2023,
    "Data Selection for Language Models via Importance Resampling"):
    score every document by how much more likely its hashed-unigram
    feature vector is under the TARGET distribution (documents matching
    ``target_predicate``, a SQL boolean over the documents columns) than
    under the RAW corpus distribution —

        logw(d) = Σ_b n_b(d) · [ ln p̂_t(b) − ln p̂_r(b) ]

    with n_b(d) the doc's token count in hash bucket b (md5-60 of the
    token mod ``buckets`` — engine-neutral, so DuckDB reproduces the
    exact bucketing), and p̂ the add-1-smoothed bucket unigram models
    p̂(b) = (c(b)+1) / (N+B). Zero-token docs score 0. The standard
    target-domain upsampling signal of a pre-training pipeline; rounded
    to 6 dp (cross-engine summation order).

    Plan shape: one tokenize+explode pass aggregated to per-doc bucket
    counts and lazily checkpointed — THREE consumers (raw bucket totals,
    target bucket totals, the scoring join), the fan-out recompute
    pitfall. Bucket models are B rows (≤ ``buckets``), broadcast into
    the scoring join; totals are 1-row broadcast crossJoins. Everything
    downstream of the explode is keyed on doc_id or the B-bounded
    bucket id — no all-pairs, no driver-side data."""
    tt = "filter(" + _TOKENIZE + ", s -> s != '')"
    nb = (
        documents.select("doc_id", F.explode(F.expr(tt)).alias("w"))
        .select("doc_id", (_md5_60("w") % buckets).alias("bucket"))
        .groupBy("doc_id", "bucket")
        .agg(F.count("*").alias("n"))
        .localCheckpoint(eager=False)
    )
    tgt_ids = documents.filter(target_predicate).select("doc_id")
    raw = nb.groupBy("bucket").agg(F.sum("n").alias("cr"))
    tgt = (
        nb.join(tgt_ids, "doc_id")
        .groupBy("bucket")
        .agg(F.sum("n").alias("ct"))
    )
    # every bucket a doc touches is present in raw by construction; a
    # bucket absent from the target corpus smooths to ct = 0
    model = (
        raw.join(tgt, "bucket", "left")
        .select("bucket", "cr", F.coalesce("ct", F.lit(0)).alias("ct"))
        .localCheckpoint(eager=False)  # consumers: two totals + scoring
    )
    totals = (
        model.agg(F.sum("cr").alias("nr"))
        .crossJoin(model.agg(F.sum("ct").alias("nt")))
    )
    b = int(buckets)
    scored = (
        nb.join(F.broadcast(model), "bucket")
        .crossJoin(F.broadcast(totals))
        .select(
            "doc_id",
            (
                F.col("n")
                * (
                    F.log((F.col("ct") + 1) / (F.col("nt") + F.lit(b)))
                    - F.log((F.col("cr") + 1) / (F.col("nr") + F.lit(b)))
                )
            ).alias("term"),
        )
    )
    # decimal(38,18) sum: exact ⇒ order-independent (the lm_cross_entropy
    # determinism discipline — this rounded Σ feeds dsir_resample's top-k
    # cut line, where a scheduling-order ulp could flip the boundary)
    per_doc = scored.groupBy("doc_id").agg(
        F.round(
            F.sum(F.col("term").cast("decimal(38,18)")).cast("double"), 6
        ).alias("logw")
    )
    return documents.join(per_doc, "doc_id", "left").select(
        "doc_id", F.coalesce("logw", F.lit(0.0)).alias("logw")
    )


def dsir_resample(
    documents: DataFrame,
    target_predicate: str,
    keep: int = 100,
    buckets: int = 4096,
    seed: int = 42,
) -> DataFrame:
    """(doc_id, logw, key) — the ``keep`` documents selected by DSIR
    Gumbel-top-k resampling: sampling WITHOUT replacement proportional
    to the importance weights is exactly taking the top-k of

        key(d) = logw(d) + Gumbel(d),   Gumbel = −ln(−ln u)

    with u a deterministic md5-60 uniform in (0,1) keyed on
    (seed, doc_id) — reproducible across engines and retries, no RNG
    state. ``key`` is rounded to 6 dp BEFORE the ranking and ties break
    on doc_id (the tf_idf_top_terms rule). The global top-k is
    orderBy().limit() — Catalyst's TakeOrderedAndProject (per-partition
    heap + k-row driver merge), never a single-partition sort."""
    two60 = float((1 << 60) + 1)
    u = (
        _md5_60(f"concat('dsir:{int(seed)}:', CAST(doc_id AS STRING))") + 1
    ) / F.lit(two60)
    keyed = dsir_log_weights(documents, target_predicate, buckets).select(
        "doc_id",
        "logw",
        F.round(F.col("logw") - F.log(-F.log(u)), 6).alias("key"),
    )
    return keyed.orderBy(F.desc("key"), "doc_id").limit(int(keep))


def quality_classifier(
    documents: DataFrame,
    label_predicate: str,
    steps: int = 3,
    lr: float = 1.0,
    buckets: int = 512,
    l2: float = 0.0,
    return_weights: bool = False,
) -> DataFrame:
    """(doc_id, score) — a weak-supervision quality classifier trained
    IN-ENGINE by full-batch gradient descent: logistic regression on
    hashed-unigram features, labels y = 1 for documents matching
    ``label_predicate`` (a SQL boolean), y = 0 otherwise. The GPT-3 /
    CCNet quality-filter stage (train on known-good vs raw, keep
    high-score docs) without any external model artifact.

        x_d  = per-doc bucket counts / doc length, plus an intercept
        p_d  = 1 / (1 + exp(−Σ_b x_db·w_b))
        w_b ← w_b − lr·[ (1/N)·Σ_d x_db·(p_d − y_d) + l2·w_b ]

    run for exactly ``steps`` full-batch steps from w = 0 (fixed-round
    parity, the reference's fixed-10 PageRank discipline). With
    ``return_weights`` the fitted (bucket, w) model is returned instead
    (bucket −1 is the intercept); score floats rounded to 6 dp.

    Scale shape: the trainable state is B+1 rows (``buckets`` weights +
    intercept) — NEVER driver-side; each step is two shuffles, a
    doc-keyed margin aggregate (feats ⋈ broadcast-able weights) and a
    bucket-keyed gradient aggregate, both map-side combinable. The
    feature table is built once (tokenize + explode + per-doc count),
    lazily checkpointed — every step's margin join AND gradient join
    consume it (the fan-out recompute pitfall). Batch GD costs one
    corpus pass per step by construction; at 100 TB you'd run the same
    plan on a sampled training slice and score the full corpus with the
    final broadcast weights — the scoring join is embarrassingly
    parallel."""
    if steps < 0:
        raise ValueError(f"steps must be >= 0, got {steps}")
    b, rate, lam = int(buckets), float(lr), float(l2)
    tt = "filter(" + _TOKENIZE + ", s -> s != '')"
    toks = documents.select(
        "doc_id", F.explode(F.expr(tt)).alias("w")
    ).select("doc_id", (_md5_60("w") % b).alias("bucket"))
    lens = toks.groupBy("doc_id").agg(F.count("*").alias("len"))
    counts = toks.groupBy("doc_id", "bucket").agg(F.count("*").alias("n"))
    feats = (
        counts.join(lens, "doc_id")
        .select("doc_id", "bucket", (F.col("n") / F.col("len")).alias("x"))
        .unionByName(
            documents.select(
                "doc_id", F.lit(-1).cast("long").alias("bucket"), F.lit(1.0).alias("x")
            )
        )
        # hash-partition ON doc_id before the checkpoint: every GD step
        # re-reads this table twice (margin groupBy(doc_id) and the
        # gradient's doc_id join) — pinning the partitioning once removes
        # two corpus-sized exchanges PER STEP (localCheckpoint preserves
        # the output partitioning, so Catalyst reuses it downstream)
        .repartition("doc_id")
        .localCheckpoint(eager=False)
    )
    labels = documents.select(
        "doc_id",
        F.when(F.expr(label_predicate), 1.0).otherwise(0.0).alias("y"),
    )
    n_docs = documents.agg(F.count("*").alias("n"))
    w = feats.select("bucket").distinct().select("bucket", F.lit(0.0).alias("w"))

    def margins(weights: DataFrame) -> DataFrame:
        return (
            feats.join(F.broadcast(weights), "bucket")
            .groupBy("doc_id")
            .agg(F.sum(F.col("x") * F.col("w")).alias("m"))
        )

    for _ in range(steps):
        resid = (
            labels.join(margins(w), "doc_id")
            .select(
                "doc_id",
                (1.0 / (1.0 + F.exp(-F.col("m"))) - F.col("y")).alias("r"),
            )
            .localCheckpoint(eager=False)
        )
        grad = (
            feats.join(resid, "doc_id")
            .crossJoin(F.broadcast(n_docs))
            .groupBy("bucket")
            .agg((F.sum(F.col("x") * F.col("r")) / F.first("n")).alias("g"))
        )
        w = (
            w.join(grad, "bucket", "left")
            .select(
                "bucket",
                (
                    F.col("w")
                    - F.lit(rate)
                    * (F.coalesce("g", F.lit(0.0)) + F.lit(lam) * F.col("w"))
                ).alias("w"),
            )
            .localCheckpoint(eager=False)
        )
    if return_weights:
        return w.select("bucket", F.round("w", 6).alias("w"))
    return margins(w).select(
        "doc_id", F.round(1.0 / (1.0 + F.exp(-F.col("m"))), 6).alias("score")
    )


def lm_cross_entropy(documents: DataFrame, alpha: float = 0.5) -> DataFrame:
    """(doc_id, n_bigrams, cross_entropy) — per-document cross-entropy
    under an add-α-smoothed bigram language model trained on the corpus
    itself:

        H(d) = −(1/|d|) Σ ln [ (c(w₋₁,w) + α) / (c(w₋₁) + α·V) ]

    with c the corpus bigram/context counts and V the vocabulary size.
    The CCNet/Wenzek-et-al-style LM-quality signal — rank documents by
    typicality and drop the high-perplexity tail — self-trained so it
    needs no external model artifact. Zero-bigram docs (< 2 tokens)
    report (0, 0.0).

    Plan shape: bigrams are built INSIDE each doc's token array with a
    guarded sequence/element_at transform (JVM-side, no self-join), then
    immediately aggregated to per-doc (w1, w2, cnt) counts and LAZILY
    CHECKPOINTED — the raw bigram stream has two consumers (the model
    aggregates and the scoring join), and without the checkpoint
    Catalyst re-runs the tokenize+explode per consumer (the fan-out
    recompute pitfall: measured 356 s → 94 s at 200k docs / 160M bigram
    instances). Scoring is count-WEIGHTED over the aggregated table
    (Σ cnt·lp / Σ cnt ≡ the per-instance mean), so the join is sized by
    distinct per-doc bigrams, not instances; the oracle computes the
    identical weighted form. All counts exact; one rounded float."""
    a = float(alpha)
    tt = "filter(" + _TOKENIZE + ", s -> s != '')"
    # tokenization BOUND ONCE per doc via the one-element-array lambda
    # (the _shingle_stream pattern): referencing the filter/split
    # expression inside the per-position lambda re-ran the regex split
    # TWICE PER BIGRAM POSITION — measured 157 s for the explode alone
    # at 200k docs / 40M positions; bound, the same explode is ~14 s
    bg = (
        f"transform(array({tt}), t -> "
        f"CASE WHEN size(t) >= 2 THEN "
        f"transform(sequence(2, size(t)), "
        f"i -> struct(element_at(t, i - 1) AS w1, element_at(t, i) AS w2)) "
        f"ELSE array() END)[0]"
    )
    tf = (
        documents.select("doc_id", F.explode(F.expr(bg)).alias("b"))
        .groupBy("doc_id", F.col("b.w1").alias("w1"), F.col("b.w2").alias("w2"))
        .agg(F.count("*").alias("cnt"))
        .localCheckpoint(eager=False)
    )
    c2 = tf.groupBy("w1", "w2").agg(F.sum("cnt").alias("c2"))
    c1 = c2.groupBy("w1").agg(F.sum("c2").alias("c1"))
    vocab = (
        documents.select(F.explode(F.expr(tt)).alias("s"))
        .agg(F.countDistinct("s").alias("v"))
    )
    # model-first join order: finish the (w1, w2)-keyed model — c2 ⋈ c1
    # ⋈ broadcast V — BEFORE attaching it to the per-doc table, so the w1
    # re-key shuffles only the distinct-bigram model rows, not the wider
    # per-(doc, bigram) stream (the former tf ⋈ c2 ⋈ c1 order exchanged
    # the full scored stream a second time, keyed by w1)
    model = (
        c2.join(c1, "w1")
        .crossJoin(F.broadcast(vocab))
        .select(
            "w1",
            "w2",
            F.log(
                (F.col("c2") + F.lit(a)) / (F.col("c1") + F.lit(a) * F.col("v"))
            ).alias("lp"),
        )
    )
    scored = tf.join(model, ["w1", "w2"]).select("doc_id", "cnt", "lp")
    # the Σ cnt·lp reduction sums as decimal(38,18): decimal addition is
    # exact and therefore ORDER-INDEPENDENT, where the former double sum
    # varied with partition/scheduling order and could flip a document
    # sitting within an ulp of the 0.5e-6 rounding boundary run-to-run
    # (the one red CORRECTNESS_r05 row). The cast truncates each term at
    # 1e-18 — 6 orders below double's own ~1e-12 accumulated noise — and
    # the exact sum is cast back to double so the division and 6-dp round
    # match the oracle's expression shape bit-for-bit on every checked SF
    # (gatecheck sf0.001/0.01/0.1; two-run byte-identity in test_docs).
    per_doc = scored.groupBy("doc_id").agg(
        F.sum("cnt").alias("nb"),
        F.round(
            -F.sum((F.col("cnt") * F.col("lp")).cast("decimal(38,18)")).cast(
                "double"
            )
            / F.sum("cnt"),
            6,
        ).alias("ce"),
    )
    return documents.join(per_doc, "doc_id", "left").select(
        "doc_id",
        F.coalesce("nb", F.lit(0)).cast("long").alias("n_bigrams"),
        F.coalesce("ce", F.lit(0.0)).alias("cross_entropy"),
    )


def chunk_documents(
    documents: DataFrame, chunk_tokens: int = 100, overlap: int = 0
) -> DataFrame:
    """(doc_id, chunk_id, n_tokens, chunk_text) — split each document
    into whitespace-token chunks of ``chunk_tokens`` with ``overlap``
    tokens of left context (stride = chunk_tokens − overlap): the
    context-window chunking stage of retrieval/embedding pipelines.
    Zero-token docs emit no chunks; the final chunk may be short, but a
    pure-overlap tail (fully contained in the previous chunk) is not
    emitted. Chunks are built INSIDE the token array (sequence + slice +
    array_join HOFs, JVM-side) — the only shuffle-relevant cost is the
    explode's row count, Σ ceil(tokens/stride)."""
    if not 0 <= overlap < chunk_tokens:
        raise ValueError(f"need 0 <= overlap < chunk_tokens, got {overlap}")
    stride = chunk_tokens - overlap
    tt = "filter(" + _TOKENIZE + ", s -> s != '')"
    # 1 + ceil((n - chunk)/stride) chunks, floored at 1 for any nonempty
    # doc (n ≤ chunk is ONE chunk; n ≤ overlap must not go negative —
    # Spark's sequence(1, 0) DESCENDS and would fabricate chunks).
    # Tokenization is bound ONCE via the one-element-array lambda (the
    # _shingle_stream pattern — a slice({tt},..) inside the per-chunk
    # lambda re-tokenizes per chunk)
    n_chunks = (
        f"CASE WHEN size(t) = 0 THEN 0 ELSE "
        f"1 + CAST(greatest(0, floor((size(t) - {chunk_tokens} + {stride - 1})"
        f" / {stride})) AS INT) END"
    )
    # chunk i (0-based) covers 1-based token positions [i*stride+1, i*stride+chunk_tokens]
    guarded = (
        f"transform(array({tt}), t -> "
        f"CASE WHEN size(t) = 0 THEN array() ELSE "
        f"transform(sequence(1, {n_chunks}), i -> struct("
        f"CAST(i - 1 AS BIGINT) AS chunk_id, "
        f"slice(t, (i - 1) * {stride} + 1, {chunk_tokens}) AS toks)) END)[0]"
    )
    return documents.select(
        "doc_id", F.explode(F.expr(guarded)).alias("c")
    ).select(
        "doc_id",
        F.col("c.chunk_id").alias("chunk_id"),
        F.size("c.toks").cast("long").alias("n_tokens"),
        F.array_join(F.col("c.toks"), " ").alias("chunk_text"),
    )


def pack_windows(
    documents: DataFrame, window_tokens: int = 2048, num_buckets: int = 64
) -> DataFrame:
    """(window_id, doc_id, n_tokens) — GPT-style sequence packing:
    concatenate all documents' whitespace tokens in doc_id order and cut
    the stream into fixed windows of ``window_tokens``; each output row
    says how many tokens of ``doc_id`` land in ``window_id`` (docs
    straddling a boundary emit one row per touched window; zero-token
    docs emit none). The standard pretraining batch-packing layout.

    100 TB note — the naive plan is a GLOBAL ``Window.orderBy(doc_id)``
    cumsum, which Spark executes as a SINGLE partition (the whole corpus
    through one task). Instead: range-repartition by doc_id into
    ``num_buckets``, per-bucket token sums collected to the driver (one
    row per bucket — O(buckets), not O(docs)), broadcast back as each
    bucket's starting offset, then the cumsum window runs PER BUCKET —
    the classic two-level distributed prefix sum; no stage sees more
    than a bucket's rows in one task."""
    from pyspark.sql import Window

    tt = "filter(" + _TOKENIZE + ", s -> s != '')"
    w = int(window_tokens)
    toks = documents.select(
        "doc_id", F.size(F.expr(tt)).cast("long").alias("n")
    ).repartitionByRange(num_buckets, "doc_id")
    # MATERIALIZE the bucket assignment before it fans out: the offsets
    # aggregate and the cumsum window are two consumers, and
    # repartitionByRange SAMPLES its range bounds per execution — without
    # this checkpoint the driver offsets can be computed on a different
    # bucketing than the cumsum runs on, producing gapped/overlapped
    # windows (caught as a cross-run max(window_id) divergence at 200k
    # docs). The checkpointed table is (doc_id, n, bucket) — no text.
    toks = toks.withColumn("bucket", F.spark_partition_id()).localCheckpoint(
        eager=True
    )
    # O(num_buckets) driver rows -> per-bucket starting offsets
    sums = toks.groupBy("bucket").agg(
        F.sum("n").alias("s"), F.min("doc_id").alias("lo")
    )
    rows = sorted(sums.collect(), key=lambda r: r["lo"])
    offsets, acc = {}, 0
    for r in rows:
        offsets[r["bucket"]] = acc
        acc += r["s"]
    # JVM map literal (≤ num_buckets entries), not a Python UDF — the
    # repo-wide zero-row-Python invariant holds here too
    off = (
        F.create_map(*[F.lit(x) for bk, st in offsets.items() for x in (bk, st)])
        if offsets
        else F.create_map(F.lit(0), F.lit(0))
    )
    cum = Window.partitionBy("bucket").orderBy("doc_id").rowsBetween(
        Window.unboundedPreceding, -1
    )
    spans = toks.filter(F.col("n") > 0).select(
        "doc_id",
        "n",
        (
            F.coalesce(off[F.col("bucket")], F.lit(0))
            + F.coalesce(F.sum("n").over(cum), F.lit(0))
        ).alias("start"),
    )
    # windows touched: floor(start/w) .. floor((start+n-1)/w)
    out = spans.select(
        "doc_id",
        "n",
        "start",
        F.explode(
            F.sequence(
                F.floor(F.col("start") / w),
                F.floor((F.col("start") + F.col("n") - 1) / w),
            )
        ).alias("window_id"),
    )
    return out.select(
        "window_id",
        "doc_id",
        (
            F.least(F.lit(w) * (F.col("window_id") + 1), F.col("start") + F.col("n"))
            - F.greatest(F.lit(w) * F.col("window_id"), F.col("start"))
        ).cast("long").alias("n_tokens"),
    )


def sample_documents(
    documents: DataFrame, rate: float, seed: int = 42, id_col: str = "doc_id"
) -> DataFrame:
    """Deterministic hash sample: keep a document iff the 60-bit md5 of
    ``samp:<seed>:<doc_id>`` falls below ``rate``·2^60 — reproducible
    across engines, runs, AND partitionings (``df.sample`` is none of
    those: its RNG is seeded per partition, so the selected set changes
    whenever the layout does). The standard way to cut a training corpus
    to a token budget while keeping the cut auditable; disjoint seeds
    give independent samples (held-out splits). Returns the full rows of
    the kept documents."""
    if not 0.0 <= rate <= 1.0:
        raise ValueError(f"rate must be in [0, 1], got {rate}")
    threshold = int(rate * float(1 << 60))
    h = _md5_60(f"concat('samp:{seed}:', CAST({id_col} AS STRING))")
    return documents.filter(h < F.lit(threshold))


def stratified_sample(
    documents: DataFrame,
    rates: dict[str, float],
    strata_col: str = "lang",
    default_rate: float = 0.0,
    seed: int = 42,
    id_col: str = "doc_id",
) -> DataFrame:
    """Deterministic per-stratum hash sample: keep a document iff the
    60-bit md5 of ``samp:<seed>:<id>`` falls below its stratum's
    rate·2^60 — the language/domain-rebalancing stage of corpus curation
    (up/down-weight strata to a target mix), with all of
    :func:`sample_documents`'s guarantees (reproducible across engines,
    runs, AND partitionings; a stratum's kept set at rate r is a subset
    of its kept set at r' > r, so mixes can be retuned monotonically).
    Strata not in ``rates`` fall back to ``default_rate``. The rate
    lookup is a JVM map literal — one filter, no shuffle, no Python."""
    for k, v in rates.items():
        if not 0.0 <= v <= 1.0:
            raise ValueError(f"rate for {k!r} must be in [0, 1], got {v}")
    if not 0.0 <= default_rate <= 1.0:
        raise ValueError(f"default_rate must be in [0, 1], got {default_rate}")
    default_thr = F.lit(int(default_rate * float(1 << 60)))
    thresholds = {k: int(v * float(1 << 60)) for k, v in rates.items()}
    if thresholds:
        tmap = F.create_map(
            *[F.lit(x) for k, t in thresholds.items() for x in (k, t)]
        )
        thr = F.coalesce(tmap[F.col(strata_col)], default_thr)
    else:
        thr = default_thr
    h = _md5_60(f"concat('samp:{int(seed)}:', CAST({id_col} AS STRING))")
    return documents.filter(h < thr)


# --------------------------------------------------------------- language id
_LANG_MARKERS = {
    "en": ("the", "and", "of", "to", "in", "is", "that", "for", "with", "was"),
    "de": ("der", "die", "das", "und", "ist", "nicht", "ein", "mit", "von", "zu"),
    "fr": ("le", "la", "les", "et", "est", "une", "des", "dans", "que", "pour"),
    "es": ("el", "la", "los", "de", "que", "y", "en", "un", "es", "por"),
}


def language_id(documents: DataFrame, text_col: str = "text") -> DataFrame:
    """(doc_id, lang_guess, lang_score) — stopword-marker language ID.

    Pure JVM expressions: per language, count marker-token hits in the
    whitespace-tokenized text; guess = argmax hit count, ties broken by
    declaration order in _LANG_MARKERS (so zero-hit documents get the
    first language, "en"); score = hits/tokens. A heuristic, not a model —
    the deterministic n-gram approach the engine contract asks for; swap
    in a real classifier as a pandas UDF behind the same schema.
    """
    tok_expr = f"split(lower(trim({text_col})), '{_WS_CLASS_SPARK}')"
    scores = []
    for lang, markers in _LANG_MARKERS.items():
        lst = ", ".join(f"'{m}'" for m in markers)
        scores.append(
            F.expr(f"size(filter({tok_expr}, t -> t IN ({lst})))").alias(f"_s_{lang}")
        )
    n_toks = F.expr(f"size({tok_expr})")
    scored = documents.select("doc_id", n_toks.alias("_n"), *scores)
    # struct comparison is field-by-field: (hits, -declaration_index) makes
    # array_max prefer higher hits, then EARLIER language on ties
    pairs = F.array(
        *[
            F.struct(
                F.col(f"_s_{lang}").alias("hits"),
                F.lit(-i).alias("prio"),
                F.lit(lang).alias("lang"),
            )
            for i, lang in enumerate(_LANG_MARKERS)
        ]
    )
    best = F.array_max(pairs)
    return scored.select(
        "doc_id",
        best["lang"].alias("lang_guess"),
        F.round(
            best["hits"] / F.nullif(F.col("_n").cast("double"), F.lit(0.0)), 6
        ).alias("lang_score"),
    )


# ------------------------------------------------------- winnowing fingerprints
def fingerprints(
    documents: DataFrame, k: int = 8, window: int = 4
) -> DataFrame:
    """(doc_id, fp) — winnowed rolling-hash document fingerprints
    (Schleimer/Wilkerson/Aiken, SIGMOD'03: the MOSS scheme).

    Per document: hash every char k-gram (``_md5_60_sql`` of
    ``substr(text, i, k)`` — engine-neutral, see module docstring), slide a
    window of ``window`` consecutive k-gram hashes, keep the MIN of each
    window, emit the distinct kept hashes. Guarantees any shared substring
    of length ≥ k + window − 1 yields at least one shared fingerprint, so
    fp-overlap is a containment detector (copied passages), complementing
    minhash (whole-doc resemblance).

    Plan shape: explode one row per k-gram position (same cost class as
    :func:`shingles`), then a per-document window-min — the window is
    PARTITION BY doc_id, so no cross-document shuffle beyond the initial
    hash-partition on doc_id; state per group is one doc's positions.
    The closing per-doc dedup reuses the window's HashPartitioning
    (doc_id ⊆ the dedup keys), so the whole operator runs on ONE
    exchange. (A fully row-local array formulation — hash array +
    sliding array_min + array_distinct in one projection, zero
    exchanges — was A/B'd at the 50k-doc bench slice and came out ~25%
    SLOWER: higher-order-function lambdas are interpreted per element
    while the explode+window path is whole-stage-codegen'd, and 55M
    interpreted md5 evaluations cost more than the one exchange saves;
    measured r06, kept here for the record.) Documents shorter than
    ``k`` chars yield no rows (no k-grams exist); docs with fewer than
    ``window`` k-grams yield the min of what exists (one clipped window
    at pos 1) rather than vanishing.
    """
    if k < 1 or window < 1:
        raise ValueError(f"k ({k}) and window ({window}) must be ≥ 1")
    pos = documents.filter(F.length("text") >= k).select(
        "doc_id",
        F.explode(
            F.sequence(F.lit(1), F.length("text") - F.lit(k - 1))
        ).alias("pos"),
        (F.length("text") - F.lit(k - 1)).alias("n_kgrams"),
        "text",
    )
    hashed = pos.select(
        "doc_id",
        "pos",
        "n_kgrams",
        F.expr(_md5_60_sql(f"substr(text, pos, {k})")).alias("h"),
    )
    w = (
        Window.partitionBy("doc_id")
        .orderBy("pos")
        .rowsBetween(Window.currentRow, window - 1)
    )
    return (
        hashed.withColumn("fp", F.min("h").over(w))
        # full windows only (last full window starts at n_kgrams - window + 1),
        # except keep pos=1 so short docs emit their single clipped window
        .filter(
            (F.col("pos") <= F.col("n_kgrams") - F.lit(window - 1))
            | (F.col("pos") == 1)
        )
        .select("doc_id", "fp")
        .dropDuplicates(["doc_id", "fp"])
    )


def repeated_spans(
    documents: DataFrame,
    min_len: int = 30,
    keep: str = "first",
    id_col: str = "doc_id",
    text_col: str = "text",
    hasher: str = "md5",
) -> DataFrame:
    """(doc_id, s, e) — maximal character spans whose every ``min_len``-gram
    occurs ≥ 2 times across the corpus: the spans an exact-substring dedup
    stage removes (Lee et al. 2022, "Deduplicating Training Data Makes
    Language Models Better" — the ExactSubstr stage production pretraining
    pipelines run between near-dup and quality filtering; VERDICT r03
    'What's missing' #1). Any substring of length ≥ min_len repeated
    verbatim anywhere (another doc OR the same doc) has every one of its
    min_len-windows duplicated, so it is fully covered by these spans; the
    spans over-reach a repeated region by at most min_len − 1 chars on
    each flank (k-gram smearing) — the standard approximation's trade.

    ``keep='first'`` exempts, per k-gram, the lexicographically smallest
    (doc_id, pos) occurrence — one canonical copy of every repeated
    passage survives (for identical passages all offsets elect the same
    minimal doc, so the survivor is contiguous); ``keep='none'`` marks
    every occurrence. Occurrences are ordered by the combined key
    doc_id·2³² + pos (exact while pos < 2³², i.e. docs under 4 GiB of
    text — far past any real document).

    Plan shape, and why it scales: one char-position explode (O(total
    chars) rows — the same cost class as :func:`fingerprints`), ONE
    h-keyed exchange feeding unbounded-frame window aggregates (count
    and keep-key PARTITION BY h — never a pair self-join, so a
    boilerplate k-gram shared by 10⁶ docs costs 10⁶ linear rows that
    spill through the window buffer, not 10¹² pairs; the former
    count-aggregate + join-back planned the explode+hash subtree twice),
    and a per-doc gaps-and-islands window (PARTITION BY doc_id — no
    cross-doc shuffle). With the default ``hasher='md5'`` every value is
    md5-60 (engine-neutral), so the whole operator has an exact DuckDB
    oracle (oracle_sql.despan_sql); ``hasher='xxhash64'`` is the
    PRODUCTION fast path — xxhash64 is a single JVM intrinsic where the
    md5-60 fragment is md5 + substr + base-conversion string ops per
    position (A/B at 50k docs × ~1k chars: 82.3 → 33.1 s warm, ~2.5×
    end-to-end, identical removed-char totals),
    with identical spans except md5-vs-xxhash collision differences
    (both ≲ N²/2⁶⁰ — negligible at any corpus size).
    """
    if min_len < 1:
        raise ValueError(f"min_len must be ≥ 1, got {min_len}")
    if keep not in ("first", "none"):
        raise ValueError(f"keep must be 'first' or 'none', got {keep!r}")
    if hasher not in ("md5", "xxhash64"):
        raise ValueError(f"hasher must be 'md5' or 'xxhash64', got {hasher!r}")
    k = min_len
    pos = documents.filter(F.length(text_col) >= k).select(
        F.col(id_col).alias("doc_id"),
        F.explode(
            F.sequence(F.lit(1), F.length(text_col) - F.lit(k - 1))
        ).alias("pos"),
        F.col(text_col).alias("_t"),
    )
    gram = F.expr(f"substr(_t, pos, {k})")
    h = (
        F.expr(_md5_60_sql(f"substr(_t, pos, {k})"))
        if hasher == "md5"
        else F.xxhash64(gram)
    )
    hashed = pos.select("doc_id", "pos", h.alias("h"))
    occ_key = F.col("doc_id") * F.lit(1 << 32) + F.col("pos")
    # ONE pass over the hashed positions: the per-hash occurrence count
    # and keep-key as unbounded-frame window aggregates (PARTITION BY h)
    # instead of a count-aggregate + join back. The join formulation
    # planned the explode+hash subtree TWICE (the probe side feeds the
    # join directly, so there is no exchange to reuse) — at the 50k-doc
    # bench that was two full md5 passes over ~55M char positions and two
    # h-keyed exchanges; the window needs one pass, one exchange, and a
    # sort, and a boilerplate hash group spills (ExternalAppendOnly row
    # buffer) rather than materializing O(occurrences) join rows twice.
    wh = Window.partitionBy("h")
    dup = (
        hashed.select(
            "doc_id",
            "pos",
            F.count("*").over(wh).alias("c"),
            F.min(occ_key).over(wh).alias("keep_key"),
        )
        .filter(F.col("c") >= 2)
        .select("doc_id", "pos", "keep_key")
    )
    if keep == "first":
        dup = dup.filter(occ_key != F.col("keep_key"))
    w = Window.partitionBy("doc_id").orderBy("pos")
    isl = (
        dup.select("doc_id", "pos")
        .withColumn("prev", F.lag("pos").over(w))
        # two k-grams at pos p, q (p < q) cover overlapping-or-adjacent
        # char ranges iff q − p ≤ k — a larger gap starts a new island
        .withColumn(
            "brk",
            F.when(
                F.col("prev").isNull() | (F.col("pos") - F.col("prev") > k),
                F.lit(1),
            ).otherwise(F.lit(0)),
        )
        .withColumn("island", F.sum("brk").over(w))
    )
    return (
        isl.groupBy("doc_id", "island")
        .agg(
            F.min("pos").alias("s"),
            (F.max("pos") + F.lit(k - 1)).alias("e"),
        )
        .select("doc_id", F.col("s").cast("long"), F.col("e").cast("long"))
    )


def remove_repeated_spans(
    documents: DataFrame,
    min_len: int = 30,
    keep: str = "first",
    id_col: str = "doc_id",
    text_col: str = "text",
    hasher: str = "md5",
) -> DataFrame:
    """(doc_id, text, n_removed) — the exact-substring dedup REWRITE:
    every :func:`repeated_spans` span is cut out of its document's text
    (segments between spans are concatenated; a fully-covered doc becomes
    the empty string, which a downstream length filter drops).
    ``n_removed`` = characters removed, the audit column.

    The rewrite is one per-doc ``aggregate`` over the doc's sorted span
    list (collect_list + array_sort — spans per doc are few and bounded
    by len/min_len, never O(corpus)); no Python anywhere. Docs with no
    repeated span pass through untouched via the left join."""
    spans = repeated_spans(
        documents,
        min_len=min_len,
        keep=keep,
        id_col=id_col,
        text_col=text_col,
        hasher=hasher,
    )
    agg_spans = spans.groupBy("doc_id").agg(
        F.array_sort(F.collect_list(F.struct("s", "e"))).alias("_spans")
    )
    joined = documents.select(
        F.col(id_col).alias("doc_id"), F.col(text_col).alias("_t")
    ).join(agg_spans, "doc_id", "left")
    # fold the sorted, non-overlapping spans left-to-right: state =
    # (last_e, acc); each span appends the kept segment before it; the
    # finisher appends the tail after the last span
    rewrite = F.expr(
        "aggregate(_spans, "
        "named_struct('last_e', CAST(0 AS BIGINT), 'acc', ''), "
        "(st, sp) -> named_struct("
        "  'last_e', CAST(sp.e AS BIGINT), "
        "  'acc', concat(st.acc, substr(_t, CAST(st.last_e + 1 AS INT), "
        "                CAST(sp.s - st.last_e - 1 AS INT)))), "
        "st -> concat(st.acc, substr(_t, CAST(st.last_e + 1 AS INT))))"
    )
    clean = F.when(F.col("_spans").isNull(), F.col("_t")).otherwise(rewrite)
    return joined.select(
        "doc_id",
        clean.alias("text"),
        (F.length("_t") - F.length(clean)).cast("long").alias("n_removed"),
    )


def fingerprint_overlap_pairs(
    documents: DataFrame,
    k: int = 8,
    window: int = 4,
    min_shared: int = 2,
    max_fp_doc_freq: int | None = 10_000,
) -> DataFrame:
    """(doc_a, doc_b, shared) — document pairs sharing ≥ ``min_shared``
    winnowed fingerprints: the passage-level (containment) near-dup
    detector. Inverted-index join on fp — never all-pairs; fingerprints
    appearing in more than ``max_fp_doc_freq`` documents (boilerplate —
    license headers, templates) are dropped from the index first, the same
    stop-key guard as ngram_jaccard_pairs."""
    # one materialization before the fan-out (doc-freq filter + both join
    # sides) — see minhash_candidate_pairs
    fp = fingerprints(documents, k=k, window=window).localCheckpoint(eager=True)
    if max_fp_doc_freq is not None:
        freq = fp.groupBy("fp").agg(F.count("*").alias("df"))
        fp = fp.join(freq, "fp").filter(F.col("df") <= max_fp_doc_freq).drop("df")
    a = fp.select("fp", F.col("doc_id").alias("doc_a"))
    b = fp.select("fp", F.col("doc_id").alias("doc_b"))
    return (
        a.join(b, "fp")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("shared"))
        .filter(F.col("shared") >= min_shared)
    )


def paragraph_dedup(
    documents: DataFrame,
    sep: str = "\n\n",
    min_doc_freq: int = 2,
) -> DataFrame:
    """Paragraph-level exact dedup (the RefinedWeb / MassiveText boilerplate
    pass): split every document on the LITERAL separator ``sep``, hash each
    paragraph (md5-60 — engine-neutral, docs module docstring), and remove
    every paragraph that occurs in ≥ ``min_doc_freq`` DISTINCT documents,
    rejoining the survivors in document order. Returns one row per input
    document: (doc_id, text, removed_paras) — ``text`` is the rewritten
    document ('' when everything was boilerplate), ``removed_paras`` the
    per-doc audit count. Sits between exact_dedup (whole-doc) and
    remove_repeated_spans (character-level): the cross-document repeated
    unit is the paragraph, the granularity at which web boilerplate
    (headers, footers, cookie banners) actually repeats.

    Scale plan: the corpus shuffles TWICE — once keyed by the 8-byte
    paragraph hash for the distinct-doc count (map-side combinable both
    phases), once by doc_id for the reassembly — and the join that flags
    duplicates is paragraphs ⋈ (the SMALL duplicated-hash set: only
    hashes with doc-freq ≥ min_doc_freq survive the filter, so the
    build side is O(boilerplate), broadcastable in practice). Within-doc
    repetition of a paragraph does NOT mark it (doc-freq counts distinct
    docs) — that signal belongs to repetition_stats.
    """
    if min_doc_freq < 2:
        raise ValueError(f"min_doc_freq must be ≥ 2, got {min_doc_freq}")
    # \Q…\E: Java-regex-quote the separator so F.split treats it as the
    # literal DuckDB string_split does
    pat = "\\Q" + sep + "\\E"
    paras = documents.select(
        "doc_id", F.posexplode(F.split(F.col("text"), pat)).alias("pos", "para")
    ).withColumn("h", _md5_60("para"))
    dup = (
        paras.groupBy("h")
        .agg(F.countDistinct("doc_id").alias("df"))
        .filter(F.col("df") >= min_doc_freq)
        .select("h", F.lit(True).alias("is_dup"))
    )
    flagged = paras.join(dup, "h", "left")
    return flagged.groupBy("doc_id").agg(
        F.array_join(
            F.transform(
                # collect_list drops nulls: only kept paragraphs enter
                F.array_sort(
                    F.collect_list(
                        F.when(F.col("is_dup").isNull(), F.struct("pos", "para"))
                    )
                ),
                lambda x: x["para"],
            ),
            sep,
        ).alias("text"),
        F.sum(F.when(F.col("is_dup"), 1).otherwise(0))
        .cast("long")
        .alias("removed_paras"),
    )


def quantile_buckets(
    documents: DataFrame,
    score_col: str,
    buckets: int = 10,
    id_col: str = "doc_id",
    num_range_buckets: int = 64,
) -> DataFrame:
    """(``id_col``, rank, bucket) — EXACT global 0-based rank of every row
    by (``score_col``, ``id_col``) ascending, and its k-quantile bucket
    ``(rank · buckets) div N``. The corpus-curation primitive behind
    quality-score bucketing (keep the top lm_score decile, downsample the
    bottom), exact where approxQuantile is not — bucket boundaries land
    on precise row counts, so downstream mixture weights are reproducible.

    100 TB note — the naive plan is ``row_number() OVER (ORDER BY score)``,
    a GLOBAL window Spark executes as a SINGLE partition. Instead the
    two-level prefix sum (same shape as pack_windows): range-repartition
    by the sort key into ``num_range_buckets``, per-bucket counts to the
    driver (O(buckets) rows), broadcast back as per-bucket starting
    offsets via a JVM map literal, then row_number runs PER BUCKET. The
    bucket assignment is materialized once before it fans out —
    repartitionByRange SAMPLES its bounds per execution (the pack_windows
    nondeterminism lesson). Bucket arithmetic is integer (div), never a
    float quantile boundary.
    """
    from pyspark.sql import Window

    if buckets < 1:
        raise ValueError(f"buckets must be ≥ 1, got {buckets}")
    rows = documents.select(
        F.col(id_col), F.col(score_col).alias("_score")
    ).repartitionByRange(num_range_buckets, "_score", id_col)
    rows = rows.withColumn("_rb", F.spark_partition_id()).localCheckpoint(eager=True)
    sums = rows.groupBy("_rb").agg(
        F.count("*").alias("c"),
        F.min(F.struct(F.col("_score"), F.col(id_col))).alias("lo"),
    )
    parts = sorted(sums.collect(), key=lambda r: (r["lo"][0], r["lo"][1]))
    offsets, acc = {}, 0
    for r in parts:
        offsets[r["_rb"]] = acc
        acc += r["c"]
    n_total = acc
    if n_total == 0:
        return rows.select(
            id_col,
            F.lit(0).cast("long").alias("rank"),
            F.lit(0).cast("int").alias("bucket"),
        ).limit(0)
    off = F.create_map(*[F.lit(x) for rb, st in offsets.items() for x in (rb, st)])
    w = Window.partitionBy("_rb").orderBy("_score", id_col)
    return (
        rows.withColumn(
            "rank",
            (
                F.coalesce(off[F.col("_rb")], F.lit(0))
                + F.row_number().over(w)
                - 1
            ).cast("long"),
        )
        .select(
            id_col,
            "rank",
            F.expr(f"(rank * {int(buckets)}) div {int(n_total)}")
            .cast("int")
            .alias("bucket"),
        )
    )


def vocab_stats(documents: DataFrame) -> DataFrame:
    """Per-language corpus vocabulary profile: (lang, n_docs,
    total_tokens, distinct_types, hapax_types, type_token_ratio,
    hapax_ratio) — the Heaps'-law health check of a training corpus
    (vocabulary growth, hapax mass) that catches boilerplate floods
    (TTR collapses) and OCR/encoding noise (hapax mass explodes).

    Plan: one explode over the shared whitespace tokenizer → (lang,
    term) count (map-side combinable — the hub guard: a 10¹²-token
    corpus reaches the shuffle as one row per DISTINCT (lang, term)) →
    an O(vocab)-row per-lang aggregate, joined to the O(langs) doc
    counts. Ratios rounded to 6 dp; a language with no non-empty
    tokens reports 0 counts and NULL ratios in both engines."""
    terms = documents.select(
        "lang", F.explode(F.expr(_TOKENIZE)).alias("term")
    ).filter(F.col("term") != "")
    counts = terms.groupBy("lang", "term").agg(F.count("*").alias("c"))
    per_lang = counts.groupBy("lang").agg(
        F.sum("c").alias("total_tokens"),
        F.count("*").alias("distinct_types"),
        F.count(F.when(F.col("c") == 1, True)).alias("hapax_types"),
    )
    n_docs = documents.groupBy("lang").agg(F.count("*").alias("n_docs"))
    return n_docs.join(per_lang, "lang", "left").select(
        "lang",
        "n_docs",
        F.coalesce("total_tokens", F.lit(0)).cast("long").alias("total_tokens"),
        F.coalesce("distinct_types", F.lit(0)).cast("long").alias("distinct_types"),
        F.coalesce("hapax_types", F.lit(0)).cast("long").alias("hapax_types"),
        F.round(
            F.col("distinct_types")
            / F.nullif(F.col("total_tokens").cast("double"), F.lit(0.0)),
            6,
        ).alias("type_token_ratio"),
        F.round(
            F.col("hapax_types")
            / F.nullif(F.col("distinct_types").cast("double"), F.lit(0.0)),
            6,
        ).alias("hapax_ratio"),
    )


def ngram_novelty(documents: DataFrame, k: int = 8) -> DataFrame:
    """(doc_id, n_shingles, novel_frac) — per-document n-gram NOVELTY:
    the fraction of a doc's distinct k-token shingles that appear in no
    other document (corpus doc-frequency 1). The inverse signal of the
    near-dup family: low novelty flags template/boilerplate mass that
    survives exact dedup; high novelty marks content worth keeping (and,
    at extremes, OCR noise — pair with vocab_stats).

    Plan: the shared 60-bit shingle-hash set (one tokenize + md5 pass,
    checkpointed at the fan-out), a map-side-combinable doc-frequency
    count over hashes, and one hash-partitioned join back — all keyed on
    8-byte hashes, never shingle strings. O(total distinct shingles)
    rows end to end; no pair join anywhere (a 10⁶-doc boilerplate
    shingle costs 10⁶ df rows, not 10¹² pairs — the despan lesson)."""
    sh = shingle_hashes(documents, k=k).localCheckpoint(
        eager=True
    )  # fan-out: df count + per-doc agg
    dfreq = sh.groupBy("x").agg(F.count("*").alias("df"))
    per = (
        sh.join(dfreq, "x")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_shingles"),
            F.count(F.when(F.col("df") == 1, True)).alias("novel"),
        )
    )
    return (
        documents.select("doc_id")
        .join(per, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_shingles", F.lit(0)).cast("long").alias("n_shingles"),
            F.when(
                F.col("n_shingles") > 0,
                F.round(F.col("novel") / F.col("n_shingles").cast("double"), 6),
            )
            .otherwise(F.lit(0.0))
            .alias("novel_frac"),
        )
    )
