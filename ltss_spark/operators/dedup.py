"""Deduplication operators for training-data pipelines (driver-mandated
extensions, BASELINE.json north_star; SURVEY.md §2.C ext_dedup_*).

Design for 100 TB:
- exact dedup never compares documents pairwise — it groups on a fingerprint
  (md5 of normalized text), one shuffle, map-side partial agg;
- near-dedup never does a cross join — candidates are generated by an
  inverted index on shingles (n-gram Jaccard) or by MinHash-LSH band
  buckets, so cost scales with the number of *colliding* pairs, not |docs|^2;
- every hash used is md5 (bit-identical in Spark, DuckDB, and any other
  engine), which makes even the MinHash signatures oracle-checkable — no
  engine-private hash function in the data path.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, Window


def normalize_text(col):
    """Canonical form for fingerprinting: lowercase, collapse whitespace."""
    return F.trim(F.regexp_replace(F.lower(col), r"\s+", " "))


def exact_dedup_groups(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Exact duplicate groups by content fingerprint: one row per distinct
    normalized text, with the canonical (minimum) id and the duplicate count.
    Equivalent of ``dropDuplicates`` but with a *deterministic* survivor.
    """
    return (
        docs.select(F.col(id_col), F.md5(normalize_text(F.col(text_col))).alias("fp"))
        .groupBy("fp")
        .agg(
            F.min(id_col).alias("canonical_id"),
            F.count(F.lit(1)).alias("n_dups"),
        )
    )


def gram_windows(toks, k: int):
    """All COMPLETE k-token windows of a materialized token-array column,
    with multiplicity, as ``array<string>`` (empty for docs shorter than
    k — guarding at the array level beats a post-explode re-split filter,
    which would re-tokenize every emitted window).

    The single gram builder behind both ``shingles`` (which dedups per doc
    for Jaccard sets) and the corpus repetition/quality operators (which
    need multiplicity). Pass a *reference to an already-selected array
    column*, not an inline ``split`` expression: HOF lambdas run
    interpreted and Catalyst does not CSE a repeated split per
    ``element_at``, so an inline tokenizer would re-split the text k times
    per window.

    k fixed element_at lookups + one concat_ws per window beat
    slice+array_join ~3x: slice materializes a k-element array per window
    while element_at reads in place (per-element allocation is the cost
    that matters in interpreted HOFs).

    When the input is a plain column NAME the expression is built as ONE
    parsed SQL string instead of ~4k composed Column objects: each Column
    op is a py4j round trip, and the composed form cost ~70 ms of pure
    driver latency per call (r12 profile — plan-construction time is a
    fixed per-query driver cost the 100 TB guide §5 charges to the
    driver). The parsed tree is expression-identical to the composed
    one."""
    if isinstance(toks, str):
        # the name is interpolated into raw SQL: fail fast on anything
        # that would need backtick quoting (ADVICE r12 — a name with
        # spaces/dots would parse wrong or resolve to the wrong thing;
        # the Column form below handles any name)
        if not toks.isidentifier():
            raise ValueError(
                f"gram_windows: column name {toks!r} is not a plain "
                "identifier; pass the tokens as a Column instead"
            )
        elems = ", ".join(
            f"element_at({toks}, CAST(i + {j + 1} AS INT))" for j in range(k)
        )
        return F.expr(
            f"CASE WHEN size({toks}) >= {k} THEN "
            f"transform(sequence(0, greatest(size({toks}) - {k}, 0)), "
            f"i -> concat_ws(' ', {elems})) "
            f"ELSE CAST(array() AS array<string>) END"
        )
    sh = F.transform(
        F.sequence(F.lit(0), F.greatest(F.size(toks) - k, F.lit(0))),
        lambda i: F.concat_ws(
            " ", *[F.element_at(toks, (i + j + 1).cast("int")) for j in range(k)]
        ),
    )
    return F.when(F.size(toks) >= k, sh).otherwise(F.array().cast("array<string>"))


def _shingle_sets(
    docs: DataFrame, text_col: str, id_col: str, k: int, explode: bool = False
) -> DataFrame:
    """(doc_id, sh): each doc's distinct k-word shingles as one array (empty
    below k tokens); with ``explode``, (doc_id, shingle) one row per shingle.
    Whitespace tokens of the normalized text, shingle = k consecutive
    tokens joined by ' ', higher-order functions only (no UDF); per-doc
    ``array_distinct`` avoids a global distinct shuffle.

    Never let a ``size(sh)`` filter sit above the unmaterialized frame: it
    is pushed below the projects, which inlines the split into the window
    lambda and re-tokenizes the text once per window (20 s instead of
    0.55 s on a 1,504-doc corpus). Spark infers exactly that filter for an
    explode of the ATTRIBUTE ``sh`` (InferFiltersFromGenerate), so the
    explode here wraps the expression; exploding ``sh`` is safe only
    after a checkpoint."""
    toks = F.split(normalize_text(F.col(text_col)), " ")
    sh = F.array_distinct(gram_windows("__toks", k))
    out = F.explode(sh).alias("shingle") if explode else sh.alias("sh")
    return docs.select(F.col(id_col).alias("doc_id"), toks.alias("__toks")).select(
        "doc_id", out
    )


def shingles(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id", k: int = 5) -> DataFrame:
    """Distinct k-word shingles per document (the unit set for Jaccard),
    (doc_id, shingle): :func:`_shingle_sets` exploded."""
    return _shingle_sets(docs, text_col, id_col, k, explode=True)


def simhash_fingerprints(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    bits: int = 48,
) -> DataFrame:
    """SimHash fingerprint per document as a single long (``bits`` bits).

    Each distinct token hashes to ``bits`` sign votes (bit set -> +1, clear
    -> -1); the fingerprint bit is the sign of the vote sum. Near-duplicate
    texts differ in few tokens, so their fingerprints differ in few bits.
    Entirely built-in expressions: one md5+conv per token, ``bits`` SUM
    aggregates in a single hash aggregation, bit assembly via arithmetic.
    """
    toks = docs.select(
        F.col(id_col).alias("doc_id"),
        F.explode(
            F.array_distinct(F.split(normalize_text(F.col(text_col)), " "))
        ).alias("token"),
    )
    h = F.conv(F.substring(F.md5(F.col("token")), 1, 12), 16, 10).cast("long")
    votes = toks.select("doc_id", h.alias("h")).groupBy("doc_id").agg(
        *[
            F.sum(
                F.when(F.shiftright(F.col("h"), b).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
            ).alias(f"s{b}")
            for b in range(bits)
        ]
    )
    fp = None
    for b in range(bits):
        term = F.when(F.col(f"s{b}") >= 0, F.lit(1 << b).cast("long")).otherwise(F.lit(0).cast("long"))
        fp = term if fp is None else fp + term
    return votes.select("doc_id", fp.alias("simhash"))


def simhash_pairs(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    bits: int = 48,
    max_hamming: int = 3,
) -> DataFrame:
    """Near-duplicate pairs by SimHash: block on (max_hamming+1) bit-bands
    (pigeonhole: any pair within the hamming budget shares >= 1 exact band),
    then verify with bit_count(xor). The only join is the band-bucket
    equi-join — never |docs|^2."""
    blocks = max_hamming + 1
    width = bits // blocks
    sig = simhash_fingerprints(docs, text_col, id_col, bits)
    banded = sig.select(
        "doc_id",
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(j).alias("band"),
                        F.shiftright(F.col("simhash"), j * width)
                        .bitwiseAND(F.lit((1 << width) - 1))
                        .alias("block"),
                    )
                    for j in range(blocks)
                ]
            )
        ).alias("bs"),
    ).select("doc_id", "simhash", F.col("bs.band").alias("band"), F.col("bs.block").alias("block"))
    a, b = banded.alias("a"), banded.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.block") == F.col("b.block"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.bit_count(
                F.col("a.simhash").bitwiseXOR(F.col("b.simhash"))
            ).alias("hamming"),
        )
        .distinct()
        .filter(F.col("hamming") <= max_hamming)
    )


def ngram_jaccard_pairs(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 5,
    threshold: float = 0.5,
    max_shingle_df: int | None = 1000,
    materialize_shingles: bool = True,
) -> DataFrame:
    """Near-duplicate pairs by exact Jaccard over k-word shingles, candidates
    from an inverted shingle index (self-join on shingle), never |docs|^2.

    Stop-shingle cap (VERDICT r1): a shingle appearing in m documents
    contributes m^2 candidate rows, so one boilerplate shingle on a web
    corpus makes a bucket quadratic. Shingles with document frequency >
    ``max_shingle_df`` are dropped from the Jaccard universe (numerator AND
    denominator — the standard stopword treatment, deterministic and
    oracle-expressible), bounding any bucket at max_shingle_df^2. The hot
    list itself is tiny (few distinct shingles can exceed the cap), so it
    broadcasts; cost is one extra map-side-partial aggregation.

    Returns (doc_a, doc_b, jaccard) with doc_a < doc_b, jaccard rounded to 6
    (float-division determinism for the oracle hash).
    """
    sh = shingles(docs, text_col, id_col, k)
    if max_shingle_df is not None:
        hot = (
            sh.groupBy("shingle")
            .agg(F.count(F.lit(1)).alias("df"))
            .filter(F.col("df") > max_shingle_df)
            .select("shingle")
        )
        sh = sh.join(F.broadcast(hot), "shingle", "left_anti")
    # lazy localCheckpoint, not cache(): shingles feed three consumers
    # (sizes, both join sides) so materializing once matters, but cache()
    # blocks would stay pinned for the whole session — checkpoint blocks are
    # released when the plan is garbage-collected. materialize_shingles=False
    # keeps the full lineage visible (plan audits; also composition into a
    # larger plan that wants Catalyst to see through the pipeline).
    if materialize_shingles:
        sh = sh.localCheckpoint(eager=False)
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_shingles"))
    a = sh.alias("a")
    b = sh.alias("b")
    inter = (
        a.join(b, on="shingle")
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n_shingles").alias("size_a"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n_shingles").alias("size_b"))
    # NO broadcast hint on the sizes joins: sizes is one row per DOCUMENT —
    # forcing it past autoBroadcastJoinThreshold would ship the whole doc
    # census to every executor at corpus scale; let Catalyst/AQE pick
    # (it still broadcasts when the corpus is actually small)
    return (
        inter.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.round(
                F.col("n_common")
                / (F.col("size_a") + F.col("size_b") - F.col("n_common")),
                6,
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


def ngram_containment_pairs(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 5,
    threshold: float = 0.8,
    max_shingle_df: int | None = 1000,
) -> DataFrame:
    """Near-SUPERSET duplicate pairs by exact CONTAINMENT over k-word
    shingles: C(A, B) = |A ∩ B| / min(|A|, |B|) — the sub-document
    duplication signal Jaccard structurally misses. A 100-shingle doc
    fully quoted inside a 10,000-shingle doc has Jaccard ≈ 0.01 (union
    dominated by the big doc) but containment 1.0; corpus curation
    pipelines use exactly this asymmetric measure to catch boilerplate
    expansion, quoting, and wrapper pages around a shared body.

    Same scale posture as :func:`ngram_jaccard_pairs` (shared shingle
    plumbing): candidates come from the inverted shingle index
    (self-join on shingle, never |docs|^2) under the same stop-shingle
    df cap — a shingle in > ``max_shingle_df`` docs leaves the universe
    (numerator AND denominator), bounding any bucket at
    max_shingle_df^2 candidate rows.

    Returns (doc_a, doc_b, containment, contained_doc) with
    doc_a < doc_b; ``contained_doc`` names the doc with the SMALLER
    shingle set (the one that is (nearly) a subset of the other;
    doc_a on exact-size ties — deterministic for the oracle hash), and
    ``containment`` is rounded to 6 decimals (float-division determinism
    for the cross-engine hash)."""
    sh = shingles(docs, text_col, id_col, k)
    if max_shingle_df is not None:
        hot = (
            sh.groupBy("shingle")
            .agg(F.count(F.lit(1)).alias("df"))
            .filter(F.col("df") > max_shingle_df)
            .select("shingle")
        )
        sh = sh.join(F.broadcast(hot), "shingle", "left_anti")
    sh = sh.localCheckpoint(eager=False)  # three consumers, one pass
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_shingles"))
    a = sh.alias("a")
    b = sh.alias("b")
    inter = (
        a.join(b, on="shingle")
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .groupBy(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    sa = sizes.select(
        F.col("doc_id").alias("doc_a"), F.col("n_shingles").alias("size_a")
    )
    sb = sizes.select(
        F.col("doc_id").alias("doc_b"), F.col("n_shingles").alias("size_b")
    )
    # sizes joins unhinted for the same reason as ngram_jaccard_pairs:
    # one row per DOCUMENT — a forced broadcast ships the doc census to
    # every executor at corpus scale; AQE still broadcasts when small
    return (
        inter.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.round(
                F.col("n_common") / F.least(F.col("size_a"), F.col("size_b")),
                6,
            ).alias("containment"),
            F.when(F.col("size_b") < F.col("size_a"), F.col("doc_b"))
            .otherwise(F.col("doc_a"))
            .alias("contained_doc"),
        )
        .filter(F.col("containment") >= threshold)
    )


def setsim_join_pairs(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    threshold_tenths: int = 6,
) -> DataFrame:
    """EXACT Jaccard set-similarity self-join via AllPairs/PPJoin prefix
    filtering (Bayardo/Ma/Srikant WWW'07; Chaudhuri SSJoin) — the LOSSLESS
    blocking scheme, complementary to the repo's approximate candidate
    generators: MinHash-LSH misses pairs probabilistically and the
    df-capped inverted index (:func:`ngram_jaccard_pairs`) silently drops
    stop-shingles from the universe; prefix filtering provably yields a
    candidate superset of every pair with Jaccard >= t, so the output
    EQUALS the brute-force all-pairs answer (pinned by the oracle, which
    is the full uncapped inverted-index computation, and by a property
    test against a direct in-Spark computation).

    Scheme: order every document's distinct k-word-shingle set by ONE
    global total order — (document frequency ASC, shingle ASC), rarest
    first — and index only each set's first ``n - ceil(t*n) + 1``
    elements. Any pair with ``|A∩B| >= t*max(|A|,|B|)`` (implied by
    Jaccard >= t) must collide on some indexed element, so candidates
    come from an equi-join on PREFIX shingles only. Because prefixes hold
    the globally RAREST shingles, bucket sizes are small by construction
    — the frequent-shingle buckets that dominate a naive inverted index
    never enter the join. A length filter (``min(n_a,n_b) >= t*max``)
    prunes inside the candidate join; exact verification then computes
    the true intersection from the per-doc arrays.

    The threshold is an integer number of TENTHS and every gate is pure
    integer arithmetic (``10*common >= t10*(n_a+n_b-common)``) — no float
    boundary can admit or drop a pair differently across engines; the
    reported ``jaccard`` is display-only rounding of an exact ratio.

    100 TB posture: one shuffle for the df aggregate, one guarded join to
    attach df (:func:`~ltss_spark.operators.skew.hot_key_guarded_join` —
    the shingle key is Zipf-ish and the df aggregate doubles as the
    pre-flight), one per-doc sort (local, doc-bounded arrays), and a
    candidate join whose cost is sum(df_prefix^2) over RARE shingles —
    never |docs|^2, never a stop-shingle bucket.
    """
    from ltss_spark.operators.skew import hot_key_guarded_join

    t10 = int(threshold_tenths)
    sh = shingles(docs, text_col, id_col, k)
    # lazy localCheckpoint: feeds BOTH the df aggregate and the guarded
    # join's probe side — without it the tokenize+explode runs twice
    sh = sh.localCheckpoint(eager=False)
    df_counts = sh.groupBy("shingle").agg(F.count(F.lit(1)).alias("df"))
    with_df = hot_key_guarded_join(
        sh,
        df_counts,
        ["shingle"],
        salt_src=F.col("doc_id"),
        count_col="df",
        cache_key_frame=docs,
        cache_tag=f"setsim.df:{text_col}:{id_col}:{k}",
    )
    # canonical global order (df ASC, shingle ASC) realized per doc by a
    # LOCAL sort_array over struct(df, shingle) — no global rank, no
    # single-partition window over the vocabulary
    per_doc = (
        with_df.groupBy("doc_id")
        .agg(
            F.sort_array(
                F.collect_list(F.struct(F.col("df"), F.col("shingle")))
            ).alias("ord")
        )
        .select(
            "doc_id",
            F.transform(F.col("ord"), lambda s: s["shingle"]).alias("sset"),
            F.size("ord").alias("n"),
        )
        # three consumers: prefix explode + both verify sides
        .localCheckpoint(eager=False)
    )
    prefix_len = F.expr(f"n - ((n * {t10} + 9) div 10) + 1")
    pref = per_doc.select(
        "doc_id", "n", F.explode(F.slice("sset", F.lit(1), prefix_len)).alias("shingle")
    )
    a, b = pref.alias("a"), pref.alias("b")
    cand = (
        a.join(b, "shingle")
        .filter(
            (F.col("a.doc_id") < F.col("b.doc_id"))
            # length filter: Jaccard >= t forces min(n)/max(n) >= t
            & (F.least("a.n", "b.n") * 10 >= F.greatest("a.n", "b.n") * t10)
        )
        .select(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .distinct()
    )
    fa = per_doc.select(
        F.col("doc_id").alias("doc_a"), F.col("sset").alias("set_a"), F.col("n").alias("na")
    )
    fb = per_doc.select(
        F.col("doc_id").alias("doc_b"), F.col("sset").alias("set_b"), F.col("n").alias("nb")
    )
    common = F.size(F.array_intersect("set_a", "set_b")).cast("long")
    return (
        cand.join(fa, "doc_a")
        .join(fb, "doc_b")
        .select("doc_a", "doc_b", common.alias("n_common"), "na", "nb")
        .filter(
            F.col("n_common") * 10
            >= (F.col("na") + F.col("nb") - F.col("n_common")) * t10
        )
        .select(
            "doc_a",
            "doc_b",
            "n_common",
            F.round(
                F.col("n_common")
                / (F.col("na") + F.col("nb") - F.col("n_common")),
                6,
            ).alias("jaccard"),
        )
    )


#: universal-hash parameters: h_i(x) = (A[i]*x + B[i]) mod MERSENNE31.
#: Derived once from md5 so they are reproducible anywhere; x < 2^31 and
#: A[i] < 2^31 keep every product under 2^62 — exact in int64 on ANY engine
#: (no overflow, no engine-private hash in the data path).
MERSENNE31 = 2_147_483_647


def _uh_params(num_hashes: int) -> tuple[list[int], list[int]]:
    import hashlib

    a, b = [], []
    for i in range(num_hashes):
        ha = hashlib.md5(f"minhash-a-{i}".encode()).hexdigest()
        hb = hashlib.md5(f"minhash-b-{i}".encode()).hexdigest()
        a.append(int(ha[:8], 16) % (MERSENNE31 - 1) + 1)
        b.append(int(hb[:8], 16) % MERSENNE31)
    return a, b


def shingle_base_hash(shingle: Column) -> Column:
    """Portable 31-bit base hash of a shingle: md5 -> first 15 hex chars
    (60 bits, fits int64) -> mod 2^31-1. Exactly mirrored in DuckDB SQL by
    ltss_spark.plans.registry_ext.ORACLE_BASE_HASH."""
    return F.conv(F.substring(F.md5(shingle), 1, 15), 16, 10).cast("long") % MERSENNE31


def _minhash(sh: DataFrame, num_hashes: int) -> DataFrame:
    """(doc_id, h0..h{n-1}) from an exploded (doc_id, shingle) frame: one
    md5 per shingle, then ``num_hashes`` MIN aggregates of the universal
    hashes in one hash aggregation."""
    A, B = _uh_params(num_hashes)
    base = shingle_base_hash(F.col("shingle")).alias("base")
    # one parsed F.expr per hash (1 py4j round trip) instead of ~8 composed
    # Column ops each — same expression tree, ~100 ms less fixed driver
    # latency per build (r12 construction profile)
    return sh.select("doc_id", base).groupBy("doc_id").agg(
        *[
            F.expr(f"min(({A[i]} * base + {B[i]}) % {MERSENNE31}) AS h{i}")
            for i in range(num_hashes)
        ]
    )


def _band_keys(sig: DataFrame, num_hashes: int, bands: int) -> DataFrame:
    """(doc_id, band, band_sig) from a :func:`_minhash` signature frame:
    ``bands`` bands of num_hashes/bands values, each md5-condensed."""
    if num_hashes % bands != 0:
        raise ValueError(
            f"bands ({bands}) must divide num_hashes ({num_hashes}): the "
            "trailing hashes would be silently dropped from every band "
            "signature, paying their compute for zero recall"
        )
    rows_per_band = num_hashes // bands
    # inline() emits (band, band_sig) straight from the struct fields: one
    # select + one parsed expression instead of explode + a second
    # flattening select (each select re-analyzes the whole tree; the
    # composed-Column struct array was ~150 ms of driver latency per
    # build, r12 construction profile). Rows and schema are identical.
    structs = ", ".join(
        "struct({j} AS band, md5(concat_ws('|', {cols})) AS band_sig)".format(
            j=j,
            cols=", ".join(
                f"CAST(h{i} AS STRING)"
                for i in range(j * rows_per_band, (j + 1) * rows_per_band)
            ),
        )
        for j in range(bands)
    )
    return sig.selectExpr("doc_id", f"inline(array({structs}))")


def _lsh_join(banded: DataFrame) -> DataFrame:
    """Distinct (doc_a, doc_b), doc_a < doc_b, of docs sharing a band key.
    The keys are lazily checkpointed first: the two join sides get no
    ReusedExchange (r8, docs/PLANS.md), so each would re-run the whole
    signature pipeline; the checkpoint holds bands x |docs| tiny rows."""
    banded = banded.localCheckpoint(eager=False)
    a = banded.alias("a")
    b = banded.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.band_sig") == F.col("b.band_sig"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )


def minhash_signatures(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 5,
    num_hashes: int = 12,
) -> DataFrame:
    """Wide MinHash signature per document: columns doc_id, h0..h{n-1} where
    h_i = MIN over shingles of (A_i * base + B_i) mod 2^31-1.

    One md5 per shingle (not per shingle x seed) + cheap integer universal
    hashes, aggregated as ``num_hashes`` MIN columns in a single hash
    aggregation — no seed explode, so the shuffle volume is |shingles|, not
    |shingles| x num_hashes. All arithmetic is exact int64, bit-identical in
    any engine (oracle-checkable).
    """
    return _minhash(shingles(docs, text_col, id_col, k), num_hashes)


def band_signatures(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 5,
    num_hashes: int = 12,
    bands: int = 4,
) -> DataFrame:
    """(doc_id, band, band_sig): each document's LSH band keys — the
    signature is split into ``bands`` bands of num_hashes/bands MinHash
    values, each band md5-condensed. Shared by the batch pair join
    (:func:`minhash_lsh_pairs`) and the streaming signature STORE
    (incremental near-dup: new documents probe the store on these exact
    keys). A doc with fewer than k tokens has no shingles and emits no
    rows (it can collide with nothing)."""
    return _band_keys(
        minhash_signatures(docs, text_col, id_col, k, num_hashes), num_hashes, bands
    )


def minhash_lsh_pairs(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 5,
    num_hashes: int = 12,
    bands: int = 4,
) -> DataFrame:
    """LSH candidate pairs: the signature is split into ``bands`` bands of
    ``num_hashes/bands`` values; docs sharing ANY band signature are
    candidates. Returns distinct (doc_a, doc_b) with doc_a < doc_b.

    At scale: the only join is a self-equi-join on (band, band_sig) — the
    classic LSH bucket join over checkpointed band keys (:func:`_lsh_join`);
    bucket skew (a band value shared by many docs) is the known hazard and
    is handled by AQE skew-join splitting.
    """
    return _lsh_join(band_signatures(docs, text_col, id_col, k, num_hashes, bands))


def _span_frames(
    docs: DataFrame, text_col: str, id_col: str, k: int
):
    """Shared frames of the substring-dedup pair: (toks, wins, gdf) —
    positional tokens, positional k-gram windows (lazily checkpointed:
    BOTH consumers below feed off wins, and Catalyst won't reuse the
    tokenize+posexplode subplan), and per-gram distinct-document
    frequency. One definition so the audit and the rewriter can never
    disagree about positions or normalization."""
    toks = docs.select(
        F.col(id_col).alias("doc_id"),
        F.split(normalize_text(F.col(text_col)), " ").alias("__toks"),
    )
    wins = toks.select(
        "doc_id",
        F.posexplode(gram_windows("__toks", k)).alias("pos", "gram"),
    ).localCheckpoint(eager=False)
    gdf = (
        wins.select("doc_id", "gram")
        .distinct()
        .groupBy("gram")
        .agg(F.count(F.lit(1)).alias("df"))
    )
    return toks, wins, gdf


def duplicate_span_stats(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 5,
) -> DataFrame:
    """Cross-document duplicate-SPAN audit — the k-gram form of substring
    deduplication (Lee et al. 2022, "Deduplicating Training Data Makes
    Language Models Better": train-set substrings repeated verbatim
    elsewhere get memorized). Doc-level near-dup (MinHash) misses a
    boilerplate paragraph pasted into otherwise-unique pages; this finds
    it positionally.

    Per doc: every complete k-token window with its start position; a
    window is a duplicate span iff its gram occurs in >= 2 DISTINCT docs
    (intra-doc repetition is ext_repetition's job). Returns (doc_id,
    n_windows, n_dup_windows, dup_ratio, first_dup_pos). Docs with fewer
    than k tokens have NO windows and therefore no row — the audit is
    defined on windows (use :func:`remove_duplicate_spans` for an
    every-doc contract).

    Scale shape: |windows| ~ |tokens| rows through ONE distinct + ONE
    hash agg (gram document frequency) + ONE equi-join back — all linear,
    no pairwise compare; hot boilerplate grams skew the join key, which
    AQE's skew split absorbs (same posture as the LSH band joins). The
    exact suffix-array construction is the published native-code route;
    the k-gram window form is the Spark-native equivalent at fixed k.
    """
    _toks, wins, gdf = _span_frames(docs, text_col, id_col, k)
    scored = wins.join(gdf, "gram").select(
        "doc_id", "pos", (F.col("df") > 1).alias("is_dup")
    )
    dup1 = F.when(F.col("is_dup"), 1).otherwise(0)
    return scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_windows"),
        F.sum(dup1).alias("n_dup_windows"),
        F.round(F.sum(dup1) / F.count(F.lit(1)), 6).alias("dup_ratio"),
        F.min(F.when(F.col("is_dup"), F.col("pos"))).alias("first_dup_pos"),
    )


def remove_duplicate_spans(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 5,
) -> DataFrame:
    """Substring deduplication's OUTPUT side: rewrite each document with
    every cross-document duplicate k-gram span REMOVED (Lee et al. 2022 —
    the repeated substrings are what models memorize; dropping them
    beats dropping whole near-dup docs for mixed pages).

    A token is removed iff ANY duplicate window (gram present in >= 2
    distinct docs) covers it. Positions come from the SAME frames as
    :func:`duplicate_span_stats` (one shared builder — the audit and the
    rewrite cannot disagree); coverage is windows exploded to their k
    token indices, distinct, anti-joined against token positions; the
    surviving tokens reassemble ORDER-SAFELY via array_sort over
    (pos, token) structs — never a bare collect_list, whose order is
    partition-dependent.

    Returns (doc_id, clean_text, n_kept, n_removed) for EVERY input doc —
    including empty, whitespace-only, and NULL texts (clean_text '') and
    fully-duplicate docs. Linear: the span detector's shuffles plus one
    per-doc aggregation; no pairwise term.
    """
    toks, wins, gdf = _span_frames(docs, text_col, id_col, k)
    covered = (
        wins.join(gdf.filter(F.col("df") > 1), "gram")
        .select(
            "doc_id",
            F.explode(
                F.sequence(F.col("pos"), F.col("pos") + F.lit(k - 1))
            ).alias("tpos"),
        )
        .distinct()
    )
    tokpos = toks.select(
        "doc_id", F.posexplode(F.col("__toks")).alias("tpos", "token")
    ).filter(F.col("token") != "")
    kept = tokpos.join(covered, ["doc_id", "tpos"], "left_anti")
    rebuilt = kept.groupBy("doc_id").agg(
        F.concat_ws(
            " ",
            F.transform(
                F.array_sort(F.collect_list(F.struct("tpos", "token"))),
                lambda s: s["token"],
            ),
        ).alias("clean_text"),
        F.count(F.lit(1)).alias("n_kept"),
    )
    totals = tokpos.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_total"))
    # anchor on the INPUT docs, not the tokenized rows: empty/NULL texts
    # produce zero tokens and would otherwise vanish from the output
    return (
        docs.select(F.col(id_col).alias("doc_id"))
        .join(totals, "doc_id", "left")
        .join(rebuilt, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("clean_text", F.lit("")).alias("clean_text"),
            F.coalesce("n_kept", F.lit(0)).alias("n_kept"),
            (
                F.coalesce("n_total", F.lit(0)) - F.coalesce("n_kept", F.lit(0))
            ).alias("n_removed"),
        )
    )


def suffix_span_groups(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    span_tokens: int = 8,
    min_occ: int = 2,
    direct_positions: int = 2_000_000,
    stats: dict | None = None,
) -> DataFrame:
    """Exact duplicated-substring groups via distributed SUFFIX-GROUP
    construction (prefix doubling, Manber-Myers 1990 adapted to the
    shared-nothing setting): every length-``span_tokens`` token window
    that occurs >= ``min_occ`` times anywhere in the corpus, with its
    occurrence and distinct-document counts. The suffix-array-grade form
    of the span family (Lee et al. 2022 deduplicate on exact repeated
    substrings): :func:`duplicate_span_stats` audits which DOCS carry
    duplicate k-grams; this returns the duplicated SPANS themselves —
    the memorization-risk boilerplate inventory.

    Construction: positions carry GROUP IDS, never substrings. A group
    id for window width w is the (doc_id, pos) of the group's MINIMUM
    occurrence — deterministic and engine-free. Width 1 groups tokens;
    each doubling round extends width w to w + min(w, L - w) by pairing
    position i's gid with position i+shift's gid (equal (w+shift)-grams
    iff both constituent w-grams equal — the windows overlap or tile, so
    the pair characterizes the longer window exactly) and re-labeling
    each pair class by its minimum member. ceil(log2 L) rounds reach any
    width L.

    Scale shape (the reason to double instead of grouping L-token
    strings directly): per round ONE self-equi-join on (doc_id, pos) —
    both sides identically partitioned — plus ONE relabeling exchange on
    the group key; the per-position state is 2 ids regardless of L, so
    shuffle bytes are O(positions * log L) where direct L-gram grouping
    shuffles O(positions * L) characters — at Lee et al.'s L=50 on a
    100 TB corpus that is the difference between 2 longs and a ~300-byte
    string per position per exchange. Each round's frame is lazily
    checkpointed: the round SELF-joins its input, so an uncut lineage
    would recompute the whole prefix chain twice per round
    (exponentially in rounds). Only duplicated groups' spans are ever
    materialized as text, via one join of the (small) representative set
    back to the token arrays.

    Skew: relabeling keys are Zipf-hot — the width-1 key is the TOKEN
    (the hottest token is in ~every document) and later pair keys are
    repeated boilerplate itself (a license header pasted 10^8 times IS
    the workload this operator hunts). So each round relabels via a
    map-side-combinable groupBy-min (the hot key collapses to one row
    per map partition before the wire) and joins back through
    :func:`~ltss_spark.operators.skew.hot_key_guarded_join` — the group
    count the aggregate already computes doubles as the heavy-hitter
    pre-flight, the textbook fused-pre-flight treatment the tf-idf
    family uses. A window-min would be one exchange fewer but puts the
    hottest key in ONE unsplittable task.

    Adaptive execution (the house small-input pattern, gated by a
    bounded ``limit(n+1)`` probe like the BPE trainer's): below
    ``direct_positions`` token positions the doubling's log L fixed-
    latency rounds cost more than they save, so the spans are grouped
    DIRECTLY as strings — one exchange, value-identical by construction
    (the direct grouping IS the doubling path's correctness oracle, and
    the equality is pinned in tests). Pass ``direct_positions=0`` to
    force the doubling path (tests and scale probes do).

    Returns (span, n_occ, n_docs): the span text, total occurrences
    (intra-document repeats count — memorization does not care which
    page the copies share), and distinct documents.
    """
    from ltss_spark.operators.skew import hot_key_guarded_join

    def _relabel(frame, keys, tag):
        grp = frame.groupBy(*keys).agg(
            F.min(F.struct("doc_id", "pos")).alias("__gid"),
            F.count(F.lit(1)).alias("__n"),
        )
        return hot_key_guarded_join(
            frame,
            grp,
            keys,
            salt_src=F.col("pos"),
            count_col="__n",
            # key the pre-flight cache on the STABLE input frame, not the
            # checkpointed round frame (a localCheckpoint node hashes
            # uniquely per build, which would defeat the cache on every
            # re-run); the tag folds in the round width and the params
            # that shape the positions
            cache_key_frame=docs,
            cache_tag=f"suffix.{tag}:{text_col}:{id_col}:{span_tokens}",
        ).select("doc_id", "pos", F.col("__gid").alias("gid"))

    toks = docs.select(
        F.col(id_col).alias("doc_id"),
        F.split(normalize_text(F.col(text_col)), " ").alias("__toks"),
    ).localCheckpoint(eager=False)
    pos_tok = toks.select(
        "doc_id", F.posexplode(F.col("__toks")).alias("pos", "token")
    )
    if direct_positions:
        # position census as ONE map-side-combined aggregate over the token
        # arrays (r12): the former limit(n+1).count() probe posexploded the
        # corpus and funneled up to n+1 rows through a single GlobalLimit
        # task (~0.6 s at sf0.1, half the query); sum(size) needs no
        # explode and no single-task funnel. The full pass is not wasted
        # work at any scale: it is the first action on the lazily
        # checkpointed ``toks``, so it materializes exactly the blocks
        # every downstream path (direct grouping or doubling rounds)
        # consumes. size(NULL array) is NULL, and posexplode of a NULL/
        # empty array emits nothing — coalesce keeps the two censuses
        # equal row-for-row.
        n_probe = (
            toks.agg(
                F.sum(F.coalesce(F.size("__toks"), F.lit(0))).alias("n")
            ).collect()[0]["n"]
            or 0
        )
        if n_probe <= direct_positions:
            if stats is not None:
                stats["path"] = "direct"
                stats["rounds"] = 0
            return (
                toks.select(
                    "doc_id",
                    F.explode(
                        gram_windows("__toks", span_tokens)
                    ).alias("span"),
                )
                .groupBy("span")
                .agg(
                    F.count(F.lit(1)).alias("n_occ"),
                    F.countDistinct("doc_id").alias("n_docs"),
                )
                .filter(F.col("n_occ") >= min_occ)
            )
    if stats is not None:
        stats["path"] = "doubling"
    g = _relabel(pos_tok, ["token"], "w1").localCheckpoint(eager=False)
    width, rounds = 1, 0
    while width < span_tokens:
        shift = min(width, span_tokens - width)
        right = g.select(
            "doc_id",
            (F.col("pos") - shift).alias("pos"),
            F.col("gid").alias("gid2"),
        )
        g = _relabel(
            g.join(right, ["doc_id", "pos"]),
            ["gid", "gid2"],
            f"w{width + shift}",
        ).localCheckpoint(eager=False)
        width += shift
        rounds += 1
    if stats is not None:
        stats["rounds"] = rounds
        stats["width"] = width
    groups = (
        g.groupBy("gid")
        .agg(
            F.count(F.lit(1)).alias("n_occ"),
            F.countDistinct("doc_id").alias("n_docs"),
        )
        .filter(F.col("n_occ") >= min_occ)
        .select(
            F.col("gid.doc_id").alias("doc_id"),
            F.col("gid.pos").alias("pos"),
            "n_occ",
            "n_docs",
        )
    )
    # span text from each group's representative occurrence only — the
    # duplicated-group set is corpus-boilerplate-sized, not corpus-sized.
    # The join strategy is PINNED to shuffle-hash building on the rep
    # side: both inputs sit behind checkpoints (no stats), and unhinted
    # the planner broadcasts whichever side looks default-small — at
    # sf0.001 it chose the TOKEN-ARRAY corpus (observed in the formatted
    # plan), which at 100 TB is the whole dataset; the rep side is the
    # smaller side but a boilerplate-heavy corpus can make it too big to
    # broadcast, so an equi-shuffle on doc_id with a per-partition build
    # on reps is the strategy that survives every size regime.
    return groups.hint("shuffle_hash").join(toks, "doc_id").select(
        F.concat_ws(
            " ", F.slice("__toks", F.col("pos") + 1, span_tokens)
        ).alias("span"),
        "n_occ",
        "n_docs",
    )


def minhash_verified_pairs(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 5,
    num_hashes: int = 12,
    bands: int = 4,
    threshold: float = 0.5,
) -> DataFrame:
    """The full production LSH pipeline: banded MinHash CANDIDATES
    (as :func:`minhash_lsh_pairs` — approximate, admits false positives by
    design) followed by the VERIFICATION stage every deployed dedup runs:
    exact shingle-set Jaccard per candidate pair, flagged against
    ``threshold``. Returns every candidate with its exact similarity:
    (doc_a, doc_b, jaccard, verified). ``id_col`` must be unique: a pair's
    Jaccard assumes one row (one shingle set) per document.

    One tokenize-and-shingle pass: the per-document shingle sets are
    lazily checkpointed once, the signatures come from their explode, and
    each candidate joins both docs' sets for i = |A ∩ B|
    (``array_intersect``). Jaccard = i / (|A| + |B| - i), one IEEE division
    of exact ints rounded to 6, is engine-portable. Verification costs
    Σ(|A| + |B|) over CANDIDATE pairs only, never all-pairs. A doc below
    k tokens has no signature, so it is never a candidate."""
    sets = _shingle_sets(docs, text_col, id_col, k).localCheckpoint(eager=False)
    sig = _minhash(
        sets.select("doc_id", F.explode("sh").alias("shingle")), num_hashes
    )
    cand = _lsh_join(_band_keys(sig, num_hashes, bands))
    a = sets.select(F.col("doc_id").alias("doc_a"), F.col("sh").alias("sh_a"))
    b = sets.select(F.col("doc_id").alias("doc_b"), F.col("sh").alias("sh_b"))
    i = F.size(F.array_intersect("sh_a", "sh_b"))
    jac = F.round(i / (F.size("sh_a") + F.size("sh_b") - i), 6)
    return (
        cand.join(a, "doc_a")
        .join(b, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            jac.alias("jaccard"),
            (jac >= threshold).alias("verified"),
        )
    )
