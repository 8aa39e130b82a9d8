"""Registry part 4: LLM-training-data pipeline extensions (BASELINE.json
north_star; SURVEY.md §2.C ext_*): text analysis, exact/near dedup,
similarity search, multimodal plumbing.

Even the MinHash-LSH dedup is oracle-checked: all hashing is md5 (the one
hash bit-identical across engines), so the full shingle -> minhash -> band
-> bucket-join pipeline can be mirrored in DuckDB SQL.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import Window

from ltss_spark.operators.dedup import (
    exact_dedup_groups,
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
    simhash_pairs,
)
from ltss_spark.operators.similarity import (
    cosine_topk,
    cosine_topk_ivf,
    cosine_topk_lsh,
    embedding_dup_pairs,
)
from ltss_spark.operators.text import (
    STOPWORDS,
    fingerprint,
    language_guess,
    quality_score,
    stopword_ratio,
    text_stats,
    token_count,
)
from ltss_spark.plans.registry import _t, register

def _ann_recall_audit(ann, exact, min_common: int):
    """Driver-checkable invariant form for approximate top-k entries
    (VERDICT r2 item 2): DuckDB cannot run the ANN, but it CAN oracle the
    deterministic per-query invariants — k rows returned, and the
    intersection with the exact top-k at or above a floor. The floor per
    entry is set one below the minimum measured at sf0.001 AND sf0.01
    (md5-derived hashes + fixed data make recall a pure function of the
    scale factor, so a pass here is reproducible, not probabilistic). A
    recall regression flips recall_ok to false and the hash gate goes red.
    """
    a = ann.groupBy("query_id").agg(
        F.count(F.lit(1)).cast("int").alias("n_ann"),
        F.collect_set("candidate_id").alias("ann_set"),
    )
    e = exact.groupBy("query_id").agg(
        F.collect_set("candidate_id").alias("exact_set")
    )
    return a.join(e, "query_id").select(
        "query_id",
        "n_ann",
        (
            F.size(F.array_intersect("ann_set", "exact_set")) >= min_common
        ).alias("recall_ok"),
    )


#: oracle for every _ann_recall_audit entry: k rows per query, floor holds
_ANN_AUDIT_ORACLE = """
    SELECT vec_id AS query_id, CAST(5 AS INT) AS n_ann, TRUE AS recall_ok
    FROM embeddings WHERE vec_id < 3
    """


#: DuckDB fragments mirroring ltss_spark.operators.text/dedup normalization
_NORM = r"trim(regexp_replace(lower(text), '\s+', ' ', 'g'))"
_TOKS = f"string_split({_NORM}, ' ')"
_STOP_LIST = ", ".join(f"'{w}'" for w in STOPWORDS)

#: shared shingle CTE (k=5 word shingles, distinct per doc) — mirrors
#: ltss_spark.operators.dedup.shingles
_SHINGLES_CTE = f"""
    toks AS (SELECT doc_id, {_TOKS} AS t FROM documents),
    sh AS (
      SELECT DISTINCT doc_id, array_to_string(t[u.i:u.i + 4], ' ') AS shingle
      FROM toks, UNNEST(generate_series(1, greatest(len(t) - 4, 1))) AS u(i)
      WHERE len(t[u.i:u.i + 4]) = 5
    )
"""


@register(
    "ext_text_stats",
    f"""
    SELECT lang,
           COUNT(*) AS n_docs,
           CAST(SUM(length(text)) AS BIGINT) AS total_chars,
           CAST(SUM(CAST(CAST(len({_TOKS}) AS DOUBLE) AS DECIMAL(38,2))) AS DOUBLE)
             / CAST(COUNT(text) AS DOUBLE) AS avg_tokens,
           CAST(COUNT(DISTINCT source) AS BIGINT) AS n_sources,
           CAST(MIN(length(text)) AS INT) AS min_chars,
           CAST(MAX(length(text)) AS INT) AS max_chars
    FROM documents
    GROUP BY lang
    """,
    survey="ext_text_stats fn_string agg_basic",
)
def ext_text_stats(spark, sf_dir):
    return text_stats(_t(spark, sf_dir, "documents"))


@register(
    "ext_text_quality",
    f"""
    WITH d AS (
      SELECT doc_id,
             {_NORM} AS norm,
             {_TOKS} AS toks
      FROM documents
    ),
    m AS (
      SELECT doc_id,
             len(toks) AS n_tok,
             len(list_filter(toks, x -> x IN ({_STOP_LIST}))) AS n_stop,
             CAST(length(norm) - (len(toks) - 1) AS DOUBLE) / len(toks) AS avg_word
      FROM d
    )
    SELECT doc_id,
           CAST(n_tok AS INT) AS n_tokens,
           round(n_stop / n_tok, 6) AS stop_ratio,
           round((least(n_tok / 100.0, 1.0)
                  + (CASE WHEN avg_word >= 3 AND avg_word <= 10 THEN 1.0 ELSE 0.5 END)
                  + least(round(n_stop / n_tok, 6) * 5, 1.0)) / 3, 6) AS quality
    FROM m
    """,
    survey="ext_text_stats (quality scoring) fn_math",
)
def ext_text_quality(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    t = F.col("text")
    return d.select(
        "doc_id",
        token_count(t).alias("n_tokens"),
        stopword_ratio(t).alias("stop_ratio"),
        quality_score(t).alias("quality"),
    )


@register(
    "ext_lang_dist",
    """
    SELECT lang, COUNT(*) AS n_docs,
           round(COUNT(*) / SUM(COUNT(*)) OVER (), 6) AS share
    FROM documents
    GROUP BY lang
    """,
    survey="ext_text_stats win_frame (global-window share)",
)
def ext_lang_dist(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    counts = d.groupBy("lang").agg(F.count(F.lit(1)).alias("n_docs"))
    total = F.sum("n_docs").over(Window.partitionBy())
    return counts.select(
        "lang", "n_docs", F.round(F.col("n_docs") / total, 6).alias("share")
    )


@register(
    "ext_langid",
    f"""
    WITH d AS (SELECT lang, {_TOKS} AS toks FROM documents),
    votes AS (
      SELECT lang,
             len(list_filter(toks, x -> x IN ('the', 'and', 'of'))) AS c_en,
             len(list_filter(toks, x -> x IN ('der', 'die', 'und'))) AS c_de,
             len(list_filter(toks, x -> x IN ('el', 'la', 'que'))) AS c_es,
             len(list_filter(toks, x -> x IN ('le', 'la', 'et'))) AS c_fr
      FROM d
    )
    SELECT lang,
           CASE WHEN c_en > 0 AND c_en >= c_de AND c_en >= c_es AND c_en >= c_fr THEN 'en'
                WHEN c_de > 0 AND c_de >= c_es AND c_de >= c_fr THEN 'de'
                WHEN c_es > 0 AND c_es >= c_fr THEN 'es'
                WHEN c_fr > 0 THEN 'fr'
                ELSE 'unknown' END AS guessed,
           COUNT(*) AS n
    FROM votes
    GROUP BY 1, 2
    """,
    survey="ext_text_stats (language-ID heuristic)",
)
def ext_langid(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    return (
        d.select("lang", language_guess(F.col("text")).alias("guessed"))
        .groupBy("lang", "guessed")
        .agg(F.count(F.lit(1)).alias("n"))
    )


@register(
    "ext_fingerprint",
    f"""
    SELECT doc_id,
           md5({_NORM}) AS fp,
           COUNT(*) OVER (PARTITION BY md5({_NORM})) > 1 AS is_dup
    FROM documents
    """,
    survey="ext_dedup_exact (document fingerprinting)",
)
def ext_fingerprint(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    fp = fingerprint(F.col("text"))
    w = Window.partitionBy(fp)
    return d.select(
        "doc_id",
        fp.alias("fp"),
        (F.count(F.lit(1)).over(w) > 1).alias("is_dup"),
    )


@register(
    "ext_dedup_exact",
    f"""
    SELECT md5({_NORM}) AS fp,
           CAST(MIN(doc_id) AS BIGINT) AS canonical_id,
           COUNT(*) AS n_dups
    FROM documents
    GROUP BY 1
    """,
    survey="ext_dedup_exact B9",
)
def ext_dedup_exact(spark, sf_dir):
    return exact_dedup_groups(_t(spark, sf_dir, "documents"))


@register(
    "ext_dedup_ngram",
    f"""
    WITH {_SHINGLES_CTE},
    shc AS (
      SELECT doc_id, shingle FROM sh
      QUALIFY COUNT(*) OVER (PARTITION BY shingle) <= 1000
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS n_shingles FROM shc GROUP BY doc_id),
    inter AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_common
      FROM shc a JOIN shc b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT doc_a, doc_b,
           round(n_common / (sa.n_shingles + sb.n_shingles - n_common), 6) AS jaccard
    FROM inter
    JOIN sizes sa ON sa.doc_id = doc_a
    JOIN sizes sb ON sb.doc_id = doc_b
    WHERE round(n_common / (sa.n_shingles + sb.n_shingles - n_common), 6) >= 0.5
    """,
    survey="ext_dedup_near (n-gram Jaccard via inverted shingle index, df-capped stop-shingles)",
)
def ext_dedup_ngram(spark, sf_dir):
    return ngram_jaccard_pairs(
        _t(spark, sf_dir, "documents"), k=5, threshold=0.5, max_shingle_df=1000
    )


@register(
    "ext_dedup_containment",
    f"""
    WITH {_SHINGLES_CTE},
    shc AS (
      SELECT doc_id, shingle FROM sh
      QUALIFY COUNT(*) OVER (PARTITION BY shingle) <= 1000
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS n_shingles FROM shc GROUP BY doc_id),
    inter AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_common
      FROM shc a JOIN shc b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT doc_a, doc_b,
           round(n_common / least(sa.n_shingles, sb.n_shingles), 6)
             AS containment,
           CASE WHEN sb.n_shingles < sa.n_shingles THEN doc_b
                ELSE doc_a END AS contained_doc
    FROM inter
    JOIN sizes sa ON sa.doc_id = doc_a
    JOIN sizes sb ON sb.doc_id = doc_b
    WHERE round(n_common / least(sa.n_shingles, sb.n_shingles), 6) >= 0.8
    """,
    survey="ext_dedup_near (CONTAINMENT |A∩B|/min(|A|,|B|) over the same "
    "df-capped inverted shingle index — the sub-document/superset "
    "duplication signal Jaccard structurally misses: a short doc fully "
    "quoted inside a long one scores Jaccard ~0 but containment 1.0; "
    "contained_doc names the subset side)",
)
def ext_dedup_containment(spark, sf_dir):
    """Near-superset pairs (operators/dedup.ngram_containment_pairs):
    exact containment over 5-word shingles, candidates from the inverted
    shingle index under the ngram entry's stop-shingle cap. Distinct
    capability from ext_dedup_ngram, shared plumbing and scale posture
    (bucket bound = max_shingle_df^2; no |docs|^2 term anywhere)."""
    from ltss_spark.operators.dedup import ngram_containment_pairs

    return ngram_containment_pairs(
        _t(spark, sf_dir, "documents"), k=5, threshold=0.8, max_shingle_df=1000
    )


def _oracle_base_hash() -> str:
    """DuckDB mirror of ltss_spark.operators.dedup.shingle_base_hash: parse
    the first 15 hex chars of md5(shingle) into a BIGINT (60 bits, exact),
    then mod 2^31-1. DuckDB has no hex->int conversion, so the parse is an
    unrolled positional sum."""
    digit = "(strpos('0123456789abcdef', substr(md5(shingle), {j}, 1)) - 1)"
    terms = " + ".join(
        f"{digit.format(j=j)} * {16 ** (15 - j)}" for j in range(1, 16)
    )
    return f"(({terms}) % 2147483647)"


def _minhash_banded_ctes(num_hashes: int = 12, bands: int = 4) -> str:
    """The shared WITH-body computing `banded(doc_id, band, band_sig)` —
    DuckDB mirror of operators/dedup.band_signatures."""
    from ltss_spark.operators.dedup import MERSENNE31, _uh_params

    A, B = _uh_params(num_hashes)
    rows = num_hashes // bands
    mins = ",\n             ".join(
        f"MIN(({A[i]} * base + {B[i]}) % {MERSENNE31}) AS h{i}"
        for i in range(num_hashes)
    )
    band_selects = "\n      UNION ALL\n      ".join(
        "SELECT doc_id, {j} AS band, md5({sig}) AS band_sig FROM mh".format(
            j=j,
            sig=" || '|' || ".join(
                f"CAST(h{i} AS VARCHAR)" for i in range(j * rows, (j + 1) * rows)
            ),
        )
        for j in range(bands)
    )
    return f"""{_SHINGLES_CTE},
    based AS (SELECT doc_id, {_oracle_base_hash()} AS base FROM sh),
    mh AS (
      SELECT doc_id,
             {mins}
      FROM based GROUP BY doc_id
    ),
    banded AS (
      {band_selects}
    )"""


def _minhash_oracle(num_hashes: int = 12, bands: int = 4) -> str:
    return f"""
    WITH {_minhash_banded_ctes(num_hashes, bands)}
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
    FROM banded a
    JOIN banded b ON a.band = b.band AND a.band_sig = b.band_sig
                 AND a.doc_id < b.doc_id
    """


@register(
    "ext_dedup_minhash",
    _minhash_oracle(12, 4),
    survey="ext_dedup_near (MinHash-LSH, portable integer hashing, oracle-checked)",
)
def ext_dedup_minhash(spark, sf_dir):
    return minhash_lsh_pairs(
        _t(spark, sf_dir, "documents"), k=5, num_hashes=12, bands=4
    )


def _simhash_oracle(bits: int = 48, max_hamming: int = 3) -> str:
    """DuckDB mirror of ltss_spark.operators.dedup.simhash_pairs: same
    48-bit token hash (first 12 hex chars of md5 -> BIGINT, exact), same
    per-bit sign votes, same pigeonhole banding, same bit_count(xor)
    verification."""
    digit = "(strpos('0123456789abcdef', substr(md5(token), {j}, 1)) - 1)"
    h = " + ".join(f"{digit.format(j=j)} * {16 ** (12 - j)}" for j in range(1, 13))
    sums = ",\n             ".join(
        f"SUM(CASE WHEN (h >> {b}) & 1 = 1 THEN 1 ELSE -1 END) AS s{b}"
        for b in range(bits)
    )
    fp = " + ".join(
        f"(CASE WHEN s{b} >= 0 THEN CAST({1 << b} AS BIGINT) ELSE 0 END)"
        for b in range(bits)
    )
    blocks = max_hamming + 1
    width = bits // blocks
    band_selects = "\n      UNION ALL\n      ".join(
        f"SELECT doc_id, simhash, {j} AS band,"
        f" (simhash >> {j * width}) & {(1 << width) - 1} AS block FROM fp"
        for j in range(blocks)
    )
    return f"""
    WITH toks AS (
      SELECT DISTINCT doc_id, token
      FROM (SELECT doc_id, unnest({_TOKS}) AS token FROM documents)
    ),
    hashed AS (SELECT doc_id, ({h}) AS h FROM toks),
    votes AS (
      SELECT doc_id,
             {sums}
      FROM hashed GROUP BY doc_id
    ),
    fp AS (SELECT doc_id, ({fp}) AS simhash FROM votes),
    banded AS (
      {band_selects}
    ),
    pairs AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
             CAST(bit_count(xor(a.simhash, b.simhash)) AS INT) AS hamming
      FROM banded a
      JOIN banded b ON a.band = b.band AND a.block = b.block
                   AND a.doc_id < b.doc_id
    )
    SELECT doc_a, doc_b, hamming FROM pairs WHERE hamming <= {max_hamming}
    """


@register(
    "ext_dedup_simhash",
    _simhash_oracle(48, 3),
    survey="ext_dedup_near (SimHash fingerprints + pigeonhole banding, oracle-checked)",
)
def ext_dedup_simhash(spark, sf_dir):
    return simhash_pairs(_t(spark, sf_dir, "documents"), bits=48, max_hamming=3)


@register(
    "ext_sim_search",
    """
    WITH q AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 3),
    pairs AS (
      SELECT q.vec_id AS query_id, c.vec_id AS candidate_id,
             SUM(CAST(q.embedding[g.i] AS DOUBLE) * CAST(c.embedding[g.i] AS DOUBLE)) AS dot,
             SUM(CAST(q.embedding[g.i] AS DOUBLE) * CAST(q.embedding[g.i] AS DOUBLE)) AS qn2,
             SUM(CAST(c.embedding[g.i] AS DOUBLE) * CAST(c.embedding[g.i] AS DOUBLE)) AS cn2
      FROM q
      JOIN embeddings c ON c.vec_id <> q.vec_id,
      UNNEST(generate_series(1, 64)) AS g(i)
      GROUP BY 1, 2
    ),
    scored AS (
      SELECT query_id, candidate_id,
             round(dot / (sqrt(qn2) * sqrt(cn2)), 6) AS cosine
      FROM pairs
    ),
    ranked AS (
      SELECT query_id, candidate_id, cosine,
             CAST(row_number() OVER (PARTITION BY query_id
                                     ORDER BY cosine DESC, candidate_id ASC) AS INT) AS rank
      FROM scored
    )
    SELECT query_id, candidate_id, cosine, rank FROM ranked WHERE rank <= 5
    """,
    survey="ext_sim_search fn_array (brute-force cosine top-k baseline)",
)
def ext_sim_search(spark, sf_dir):
    emb = _t(spark, sf_dir, "embeddings")
    return cosine_topk(emb, emb.filter(F.col("vec_id") < 3), k=5)


@register(
    "ext_sim_search_lsh",
    _ANN_AUDIT_ORACLE,
    survey="ext_sim_search (random-hyperplane LSH, the 100TB blocking path)",
)
def ext_sim_search_lsh(spark, sf_dir):
    """LSH top-k recall audit: runs the full hyperplane-LSH plan AND the
    exact baseline, emits per-query (n_ann, recall_ok). Floor 3/5
    (measured 4-5 at sf0.001/sf0.01); raw top-k output + recall bounds in
    tests/test_operators.py."""
    emb = _t(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 3)
    return _ann_recall_audit(
        cosine_topk_lsh(emb, q, k=5, dim=64), cosine_topk(emb, q, k=5), min_common=3
    )


#: cap for the embed-dedup audit baseline: the exact all-pairs reference is
#: computed ONLY among vec_id < _EMBED_AUDIT_CAP — bounded ~cap^2/2 work no
#: matter how large the corpus grows, while the audited LSH plan runs over
#: the WHOLE table (VERDICT r3 item 2: the registered plan must be the
#: 100 TB shape, the oracle an invariant over a capped subsample).
_EMBED_AUDIT_CAP = 250


def _embed_pairs_sql(threshold: float, cap: int) -> str:
    """DuckDB all-pairs cosine pairs among vec_id < cap (audit baseline)."""
    return f"""
    WITH s AS (
      SELECT vec_id, embedding FROM embeddings WHERE vec_id < {cap}
    ),
    pairs AS (
      SELECT a.vec_id AS id_a, b.vec_id AS id_b,
             SUM(CAST(a.embedding[g.i] AS DOUBLE) * CAST(b.embedding[g.i] AS DOUBLE)) AS dot,
             SUM(CAST(a.embedding[g.i] AS DOUBLE) * CAST(a.embedding[g.i] AS DOUBLE)) AS na2,
             SUM(CAST(b.embedding[g.i] AS DOUBLE) * CAST(b.embedding[g.i] AS DOUBLE)) AS nb2
      FROM s a
      JOIN s b ON a.vec_id < b.vec_id,
      UNNEST(generate_series(1, 64)) AS g(i)
      GROUP BY 1, 2
    )
    SELECT id_a, id_b
    FROM pairs
    WHERE round(dot / (sqrt(na2) * sqrt(nb2)), 6) >= {threshold}
    """


@register(
    "ext_dedup_embed",
    f"""
    WITH tp AS ({_embed_pairs_sql(0.3, _EMBED_AUDIT_CAP)})
    SELECT CAST(count(*) AS INT) AS n_true_pairs,
           TRUE AS recall_ok,
           TRUE AS sound_ok
    FROM tp
    """,
    survey="ext_dedup_near ext_sim_search fn_array (embedding-cosine near-dup, LSH-bucketed scale plan + capped-exact invariant audit)",
)
def ext_dedup_embed(spark, sf_dir):
    """Embedding-cosine near-dup audit (invariant form, VERDICT r3 item 2):
    the REGISTERED plan is the LSH-bucketed pair generator over the whole
    table — hyperplane signature buckets, equi-join, exact rescore; no
    all-pairs join anywhere that grows with the corpus. DuckDB cannot run
    the LSH, so the oracle pins deterministic invariants instead: among the
    capped subsample (vec_id < 250) it computes the TRUE pair set exactly
    and asserts (a) n_true_pairs matches, (b) LSH recall on those pairs
    holds a floor (0.8; measured 0.892/0.896/0.906 at sf0.001/0.01/0.1 —
    md5-derived hyperplanes + fixed data make recall a pure function of the
    scale factor), (c) soundness: every sample-restricted LSH pair is a
    true pair (structural — candidates are exactly rescored; measured 0
    violations at every sf). Raw pair output is pinned by
    tests/test_operators.py."""
    emb = _t(spark, sf_dir, "embeddings")
    # lazy checkpoint: the LSH pair set feeds BOTH audit branches (recall
    # left-join + soundness anti-join); un-cut, the physical plan carries
    # the whole signature pipeline once PER BRANCH (verified: 4x
    # ArrowEvalPython / 8x parquet scans without the checkpoint) — a wash
    # at fixture size, a full duplicate corpus pass at scale
    lsh = embedding_dup_pairs(emb, threshold=0.3, method="lsh", dim=64).select(
        "id_a", "id_b"
    ).localCheckpoint(eager=False)
    sample_exact = embedding_dup_pairs(
        emb.filter(F.col("vec_id") < _EMBED_AUDIT_CAP), threshold=0.3, method="exact"
    ).select("id_a", "id_b")
    lsh_in_sample = lsh.filter(
        (F.col("id_a") < _EMBED_AUDIT_CAP) & (F.col("id_b") < _EMBED_AUDIT_CAP)
    )
    audit = (
        sample_exact.join(
            lsh.withColumn("found", F.lit(1)), ["id_a", "id_b"], "left"
        )
        .agg(
            F.count(F.lit(1)).cast("int").alias("n_true_pairs"),
            # coalesce TRUE: zero true pairs in the sample makes the SUM
            # NULL and NULL >= 0 is NULL — a vacuously-true audit must
            # stay TRUE, not hash-mismatch the oracle's literal
            F.coalesce(
                F.sum(F.coalesce("found", F.lit(0)))
                >= F.count(F.lit(1)) * F.lit(0.8),
                F.lit(True),
            ).alias("recall_ok"),
        )
    )
    unsound = (
        lsh_in_sample.join(sample_exact, ["id_a", "id_b"], "left_anti")
        .agg(F.count(F.lit(1)).alias("n_unsound"))
    )
    return audit.crossJoin(unsound).select(
        "n_true_pairs", "recall_ok", (F.col("n_unsound") == 0).alias("sound_ok")
    )


@register(
    "ext_dedup_embed_capped",
    f"""
    WITH s AS (
      SELECT vec_id, embedding FROM embeddings WHERE vec_id < {_EMBED_AUDIT_CAP}
    ),
    dots AS (
      SELECT a.vec_id AS id_a, b.vec_id AS id_b,
             SUM(CAST(a.embedding[g.i] AS DOUBLE) * CAST(b.embedding[g.i] AS DOUBLE)) AS dot,
             SUM(CAST(a.embedding[g.i] AS DOUBLE) * CAST(a.embedding[g.i] AS DOUBLE)) AS na2,
             SUM(CAST(b.embedding[g.i] AS DOUBLE) * CAST(b.embedding[g.i] AS DOUBLE)) AS nb2
      FROM s a
      JOIN s b ON a.vec_id < b.vec_id,
      UNNEST(generate_series(1, 64)) AS g(i)
      GROUP BY 1, 2
    ),
    scored AS (
      SELECT id_a, id_b, round(dot / (sqrt(na2) * sqrt(nb2)), 6) AS cosine
      FROM dots
      WHERE round(dot / (sqrt(na2) * sqrt(nb2)), 6) >= 0.3
    ),
    sym AS (
      SELECT id_a, id_b, cosine, id_a AS vid, id_b AS partner FROM scored
      UNION ALL
      SELECT id_a, id_b, cosine, id_b AS vid, id_a AS partner FROM scored
    ),
    ranked AS (
      SELECT id_a, id_b,
             ROW_NUMBER() OVER (PARTITION BY vid
                                ORDER BY cosine DESC, partner ASC) AS r
      FROM sym
    ),
    kept AS (SELECT DISTINCT id_a, id_b FROM ranked WHERE r <= 5),
    tot AS (
      SELECT id, COUNT(*) AS n_pairs_total FROM (
        SELECT id_a AS id FROM scored UNION ALL SELECT id_b FROM scored
      ) GROUP BY 1
    ),
    kc AS (
      SELECT id, COUNT(*) AS n_pairs_kept FROM (
        SELECT id_a AS id FROM kept UNION ALL SELECT id_b FROM kept
      ) GROUP BY 1
    )
    SELECT t.id AS vec_id,
           CAST(n_pairs_total AS BIGINT) AS n_pairs_total,
           CAST(COALESCE(n_pairs_kept, 0) AS BIGINT) AS n_pairs_kept,
           CAST(n_pairs_total - COALESCE(n_pairs_kept, 0) AS BIGINT)
             AS n_truncated
    FROM tot t LEFT JOIN kc USING (id)
    """,
    survey="ext_dedup_near win_rank (pair-materialization guard: top-m-per-vector cap with per-vector truncation audit)",
)
def ext_dedup_embed_capped(spark, sf_dir):
    """The VERDICT r4 pair-explosion guard, oracle-checked end-to-end:
    cap_pairs_per_vector keeps a pair iff it is a top-5 link of either
    endpoint (cosine desc, partner-id tie-break — deterministic), bounding
    the materialized pair set at 5n rows however dense the corpus. The
    audit returns, per vector, the uncapped pair count, the kept count,
    and the truncation count — DuckDB reproduces the exact keep-rule with
    the same two ROW_NUMBER windows. Runs on the capped exact pair set
    (vec_id < 250) so the oracle is complete; the LSH path reuses the same
    cap via embedding_dup_pairs(max_pairs_per_vector=...) and its
    boundedness at growing scale is measured in scale_probe.json."""
    from ltss_spark.operators.similarity import (
        cap_pairs_per_vector,
        embedding_dup_pairs,
    )

    emb = _t(spark, sf_dir, "embeddings").filter(F.col("vec_id") < _EMBED_AUDIT_CAP)
    # one broadcast self-join, checkpointed: the capped and uncapped
    # branches both consume it, and the cap's windows must rank the SAME
    # scored frame the totals count
    pairs = embedding_dup_pairs(emb, threshold=0.3, method="exact").localCheckpoint(
        eager=False
    )
    kept = cap_pairs_per_vector(pairs, 5)

    def per_vector(df: DataFrame, out: str) -> DataFrame:
        return (
            df.select(F.col("id_a").alias("id"))
            .unionAll(df.select(F.col("id_b").alias("id")))
            .groupBy("id")
            .agg(F.count(F.lit(1)).alias(out))
        )

    tot = per_vector(pairs, "n_pairs_total")
    kc = per_vector(kept, "n_pairs_kept")
    return (
        tot.join(kc, "id", "left")
        .select(
            F.col("id").alias("vec_id"),
            "n_pairs_total",
            F.coalesce("n_pairs_kept", F.lit(0)).alias("n_pairs_kept"),
            (F.col("n_pairs_total") - F.coalesce("n_pairs_kept", F.lit(0))).alias(
                "n_truncated"
            ),
        )
    )


@register(
    "ext_sim_search_ivf",
    _ANN_AUDIT_ORACLE,
    survey="ext_sim_search (IVF coarse quantizer, FAISS-IVF-flat shape)",
)
def ext_sim_search_ivf(spark, sf_dir):
    """IVF top-k recall audit at nprobe=6/16 (measured 3-5 common at
    sf0.001/sf0.01; floor 2). Exactness at nprobe=n_centroids and
    partial-probe recall tested in tests/test_operators.py."""
    emb = _t(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 3)
    return _ann_recall_audit(
        cosine_topk_ivf(emb, q, k=5, n_centroids=16, nprobe=6, dim=64),
        cosine_topk(emb, q, k=5),
        min_common=2,
    )


@register(
    "ext_cluster_balance",
    """
    WITH v AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings
    ),
    n AS (SELECT vec_id, e, sqrt(list_dot_product(e, e)) AS nrm FROM v),
    c AS (
      SELECT vec_id AS centroid_id, e AS ce, nrm AS cnrm
      FROM n ORDER BY vec_id LIMIT 8
    ),
    s AS (
      SELECT n.vec_id, c.centroid_id,
             round(list_dot_product(n.e, c.ce) / (n.nrm * c.cnrm), 6) AS cosine
      FROM n, c
    ),
    a AS (
      SELECT vec_id, centroid_id, cosine FROM (
        SELECT vec_id, centroid_id, cosine,
               row_number() OVER (
                 PARTITION BY vec_id ORDER BY cosine DESC, centroid_id ASC
               ) AS arank
        FROM s
      ) WHERE arank = 1
    )
    SELECT vec_id, centroid_id, cosine, cluster_rank FROM (
      SELECT vec_id, centroid_id, cosine,
             CAST(row_number() OVER (
               PARTITION BY centroid_id ORDER BY cosine DESC, vec_id ASC
             ) AS INT) AS cluster_rank
      FROM a
    ) WHERE cluster_rank <= 25
    """,
    survey="ext_sim_search win_rank fn_array (cluster-balanced sampling: nearest-anchor assignment + per-cluster top-m — topic balancing / per-topic exemplars for a training mix)",
)
def ext_cluster_balance(spark, sf_dir):
    """Topic-balanced selection (operators/similarity.cluster_balance):
    every embedding assigns to its nearest of 8 deterministic anchors
    (the 8 smallest vec_ids), each cluster keeps its 25 most-central
    members. One broadcast of the KB-scale anchor frame, one linear
    assignment scan; both rank filters compile to WindowGroupLimit so no
    cluster's membership ever sorts through one reducer. The oracle
    recomputes assignment and per-cluster ranking exactly
    (list_dot_product mirrors the fold arithmetic; round-6 before
    ranking, id tie-breaks)."""
    from ltss_spark.operators.similarity import cluster_balance

    return cluster_balance(
        _t(spark, sf_dir, "embeddings"), n_centroids=8, per_cluster=25
    )


@register(
    "ext_dedup_semantic",
    """
    WITH v AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings
    ),
    n AS (SELECT vec_id, e, sqrt(list_dot_product(e, e)) AS nrm FROM v),
    c AS (
      SELECT vec_id AS centroid_id, e AS ce, cnrm FROM (
        SELECT vec_id, e, nrm AS cnrm FROM n ORDER BY vec_id LIMIT 8
      )
    ),
    a AS (
      SELECT vec_id, centroid_id, e, nrm FROM (
        SELECT n.vec_id, c.centroid_id, n.e, n.nrm,
               row_number() OVER (
                 PARTITION BY n.vec_id
                 ORDER BY list_dot_product(n.e, c.ce) / (n.nrm * c.cnrm) DESC,
                          c.centroid_id ASC
               ) AS arank
        FROM n, c
      ) WHERE arank = 1
    ),
    w AS (
      SELECT x.vec_id, MIN(y.vec_id) AS dup_of
      FROM a x JOIN a y
        ON x.centroid_id = y.centroid_id AND y.vec_id < x.vec_id
      WHERE round(list_dot_product(x.e, y.e) / (x.nrm * y.nrm), 6) > 0.35
      GROUP BY x.vec_id
    )
    SELECT a.vec_id, a.centroid_id,
           w.dup_of IS NOT NULL AS is_dup, w.dup_of
    FROM a LEFT JOIN w USING (vec_id)
    """,
    survey="ext_dedup_near ext_sim_search join_inner agg_basic (SemDeDup: cluster-scoped semantic dedup — within-cluster pairs only, deterministic keep-lowest witness)",
)
def ext_dedup_semantic(spark, sf_dir):
    """SemDeDup over the embeddings table (operators/similarity.
    semantic_dedup): assign to 8 deterministic anchors, flag any vector
    with a smaller-id same-cluster neighbor above 0.35 cosine, witness =
    the smallest such neighbor. The pair stage is an equi-join on the
    cluster key (the paper's trick: near-dups co-cluster, the
    cross-cluster quadratic term is never computed); per-cluster cost is
    the knob n_centroids ∝ N holds constant. The oracle recomputes
    assignment, every within-cluster pair, and each witness exactly."""
    from ltss_spark.operators.similarity import semantic_dedup

    return semantic_dedup(
        _t(spark, sf_dir, "embeddings"), n_centroids=8, threshold=0.35
    )


def _semantic_kmeans_oracle(
    n_centroids: int = 8, threshold: float = 0.35, iters: int = 2
) -> str:
    """Unrolled k-means SemDeDup mirroring operators/similarity.
    semantic_dedup_kmeans(exact=True, seed_hash='md5'): the md5-ordered
    seed sample is replayed exactly (md5 is the one cross-engine hash),
    and each Lloyd pass recomputes centroids through the micro-unit LONG
    discipline — TIE-FREE floor(val*1e6 + 0.5) quantization (ADVICE r9:
    pure IEEE ops on the binary double, bit-identical in both engines,
    where round() HALF_UPs Spark's shortest-repr and can flip a
    repr-tie-adjacent coordinate) summed as exact integers, ONE double
    division per (centroid, dim) — so neither engine aggregation order
    nor rounding-rule skew can leak into the centroids (the ext_pagerank
    pattern applied to k-means). Assignment cosines are per-row IEEE folds, bit-equal in
    both engines; the witness stage is ext_dedup_semantic's."""
    its = []
    prev = "c0"
    for k in range(1, iters + 1):
        its.append(f"""
    a{k} AS (
      SELECT vec_id, centroid_id, e FROM (
        SELECT n.vec_id, c.centroid_id, n.e,
               row_number() OVER (
                 PARTITION BY n.vec_id
                 ORDER BY list_dot_product(n.e, c.ce) / (n.nrm * c.cnrm) DESC,
                          c.centroid_id ASC
               ) AS r
        FROM n, {prev} c
      ) WHERE r = 1
    ),
    m{k} AS (
      SELECT centroid_id, pos,
             CAST(SUM(CAST(FLOOR(val * 1e6 + 0.5) AS BIGINT)) AS DOUBLE)
               / (COUNT(*) * 1e6) AS m
      FROM (
        SELECT centroid_id, UNNEST(e) AS val,
               UNNEST(range(1, len(e) + 1)) AS pos
        FROM a{k}
      ) GROUP BY centroid_id, pos
    ),
    cv{k} AS (
      SELECT centroid_id, list(m ORDER BY pos) AS ce
      FROM m{k} GROUP BY centroid_id
    ),
    c{k} AS (
      SELECT p.centroid_id,
             COALESCE(cv{k}.ce, p.ce) AS ce,
             sqrt(list_dot_product(COALESCE(cv{k}.ce, p.ce),
                                   COALESCE(cv{k}.ce, p.ce))) AS cnrm
      FROM {prev} p LEFT JOIN cv{k} USING (centroid_id)
    )""")
        prev = f"c{k}"
    return f"""
    WITH v AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings
      WHERE embedding IS NOT NULL
    ),
    n AS (SELECT vec_id, e, sqrt(list_dot_product(e, e)) AS nrm FROM v),
    c0 AS (
      SELECT CAST(row_number() OVER (
               ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id
             ) AS INT) AS centroid_id,
             e AS ce, sqrt(list_dot_product(e, e)) AS cnrm
      FROM (
        SELECT vec_id, e FROM n
        ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT {n_centroids}
      )
    ),{",".join(its)},
    a AS (
      SELECT vec_id, centroid_id, e, nrm FROM (
        SELECT n.vec_id, c.centroid_id, n.e, n.nrm,
               row_number() OVER (
                 PARTITION BY n.vec_id
                 ORDER BY list_dot_product(n.e, c.ce) / (n.nrm * c.cnrm) DESC,
                          c.centroid_id ASC
               ) AS arank
        FROM n, {prev} c
      ) WHERE arank = 1
    ),
    w AS (
      SELECT x.vec_id, MIN(y.vec_id) AS dup_of
      FROM a x JOIN a y
        ON x.centroid_id = y.centroid_id AND y.vec_id < x.vec_id
      WHERE round(list_dot_product(x.e, y.e) / (x.nrm * y.nrm), 6)
              > {threshold}
      GROUP BY x.vec_id
    )
    SELECT a.vec_id, a.centroid_id,
           w.dup_of IS NOT NULL AS is_dup, w.dup_of
    FROM a LEFT JOIN w USING (vec_id)
    """


@register(
    "ext_dedup_semantic_kmeans",
    _semantic_kmeans_oracle(8, 0.35, 2),
    survey="ext_dedup_near ext_sim_search udaf (SemDeDup with a TRAINED "
    "k-means coarse quantizer — md5-ordered seeds + exact micro-unit "
    "Lloyd refinement as the assignment stage; the production path "
    "end-to-end, now VALUE-hash-oracled via the unrolled-iteration "
    "DuckDB replay, VERDICT r8 item 1. Witness stage and scale shape "
    "identical to ext_dedup_semantic; recall-vs-anchor invariant pinned "
    "in tests/test_operators.py)",
)
def ext_dedup_semantic_kmeans(spark, sf_dir):
    """semantic_dedup_kmeans over the embeddings table: md5-ordered seed
    sample -> 2 exact-Lloyd iterations (micro-unit LONG centroid means —
    order-free, so DuckDB can replay them) -> nearest trained centroid ->
    same within-cluster smallest-id witness as ext_dedup_semantic. The
    oracle unrolls both Lloyd passes as CTEs and the driver value-hashes
    every (vec_id, centroid_id, is_dup, dup_of) row — pair-level AND
    assignment-level correctness, not just the row count. The cheap
    fp-avg/xxhash64 production arithmetic stays the operator default and
    keeps its pytest recall invariant."""
    from ltss_spark.operators.similarity import semantic_dedup_kmeans

    return semantic_dedup_kmeans(
        _t(spark, sf_dir, "embeddings"),
        n_centroids=8,
        threshold=0.35,
        iters=2,
        exact=True,
        seed_hash="md5",
    )


@register(
    "ext_knn_join",
    """
    WITH v AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e
      FROM embeddings WHERE vec_id < 400
    ),
    n AS (SELECT vec_id, e, sqrt(list_dot_product(e, e)) AS nrm FROM v),
    scored AS (
      SELECT a.vec_id AS vec_id, b.vec_id AS neighbor_id,
             round(list_dot_product(a.e, b.e) / (a.nrm * b.nrm), 6) AS cosine
      FROM n a JOIN n b ON a.vec_id <> b.vec_id
    ),
    ranked AS (
      SELECT vec_id, neighbor_id, cosine,
             CAST(row_number() OVER (
               PARTITION BY vec_id ORDER BY cosine DESC, neighbor_id ASC
             ) AS INT) AS rank
      FROM scored
    )
    SELECT vec_id, neighbor_id, cosine, rank FROM ranked WHERE rank <= 3
    """,
    survey="ext_sim_search ext_dedup_near win_rank fn_array (exact kNN self-join: every vector's k nearest — the kNN-graph/cluster building block; baseline for the IVF scale path)",
)
def ext_knn_join(spark, sf_dir):
    """Exact kNN self-join (operators/similarity.knn_join): every vector
    in the slice gets its 3 nearest neighbors by cosine. Value-hashed
    against a full DuckDB all-pairs oracle (list_dot_product over
    DOUBLE[] mirrors the fold's cast-then-sum arithmetic; both sides
    round to 6 BEFORE ranking with neighbor-id tie-break). The slice cap
    (vec_id < 400) bounds the |V|^2 baseline identically at every scale
    factor — the full-corpus scale path is ext_knn_join_ivf."""
    from ltss_spark.operators.similarity import knn_join

    emb = _t(spark, sf_dir, "embeddings")
    return knn_join(emb.filter(F.col("vec_id") < 400), k=3)


@register(
    "ext_knn_join_ivf",
    """
    SELECT vec_id, CAST(5 AS INT) AS n_ann, TRUE AS recall_ok,
           TRUE AS coverage_ok
    FROM embeddings WHERE vec_id < 3
    """,
    survey="ext_sim_search ext_dedup_near (IVF kNN self-join over the whole corpus — blocked per-cell matmul, the FAISS-IVF kNN-graph shape)",
)
def ext_knn_join_ivf(spark, sf_dir):
    """IVF kNN self-join audit: the REGISTERED plan runs over the WHOLE
    embeddings table — one codebook-assignment pass feeds both the
    inverted lists and the nprobe=6/16 probe fan-out, each cell scores
    with one blocked (P x dim) @ (dim x M) Arrow matmul emitting local
    top-k only (operators/similarity.knn_join, score='arrow'; measured
    6.9 s -> 1.9 s at sf0.1 vs the interpreted fold). DuckDB cannot run
    the IVF, so the oracle pins deterministic invariants: 5 rows per
    audited vector, recall floor 2/5 against the exact top-5 (measured
    min 3 at sf0.001/0.01/0.1 — md5/xxhash-derived codebook + fixed data
    make recall a pure function of the scale factor), and coverage_ok:
    EVERY corpus vector appears in the join output (each vector probes
    its own cell, so isolation requires an empty cell — measured exact
    100 % coverage at all three SFs)."""
    from ltss_spark.operators.similarity import cosine_topk, knn_join

    emb = _t(spark, sf_dir, "embeddings")
    full = knn_join(
        emb, k=5, method="ivf", n_centroids=16, nprobe=6, dim=64
    ).localCheckpoint(eager=False)
    ann = full.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"),
        F.col("neighbor_id").alias("candidate_id"),
    )
    exact = cosine_topk(emb, emb.filter(F.col("vec_id") < 3), k=5)
    audit = _ann_recall_audit(ann, exact, min_common=2).withColumnRenamed(
        "query_id", "vec_id"
    )
    cov = (
        full.agg(F.countDistinct("vec_id").alias("n_cov"))
        .crossJoin(emb.agg(F.count(F.lit(1)).alias("n_all")))
        .select((F.col("n_cov") == F.col("n_all")).alias("coverage_ok"))
    )
    return audit.crossJoin(cov)


_HEXD = "'0123456789abcdef'"


def _hex_byte(hexpr: str, pos: int) -> str:
    """DuckDB fragment: parse hex byte at 1-based char position pos..pos+1."""
    return (
        f"(16 * (strpos({_HEXD}, substr({hexpr}, {pos}, 1)) - 1)"
        f" + (strpos({_HEXD}, substr({hexpr}, {pos + 1}, 1)) - 1))"
    )


@register(
    "ext_multimodal",
    f"""
    WITH a AS (
      SELECT doc_id AS asset_id, 'image' AS media_type, text,
             md5(text) AS h
      FROM documents
    )
    SELECT asset_id, media_type,
           CAST(octet_length(encode(text)) AS INT) AS n_bytes,
           sha256(text) AS sha,
           CAST(16 + ({_hex_byte('h', 1)} % 64) AS INT) AS width,
           CAST(16 + ({_hex_byte('h', 3)} % 64) AS INT) AS height
    FROM a
    """,
    survey="ext_multimodal udf_scalar (binary payload + mapInPandas feature extraction)",
)
def ext_multimodal(spark, sf_dir):
    """Binary-payload plumbing: documents as opaque bytes -> Arrow-batched
    mapInPandas feature extraction (hash, size, stubbed decode). The decode
    internals are a deterministic fake (no imaging libs in the container) —
    the oracle independently recomputes them from md5, proving the Spark-side
    batch plumbing delivers payloads byte-exactly."""
    from ltss_spark.functions.multimodal import documents_as_assets, extract_features

    return extract_features(documents_as_assets(_t(spark, sf_dir, "documents")))


@register(
    "ext_multimodal_resize",
    f"""
    WITH a AS (
      SELECT doc_id AS asset_id, text, md5(text) AS h FROM documents
    ),
    dims AS (
      SELECT asset_id, text,
             16 + ({_hex_byte('h', 1)} % 64) AS w,
             16 + ({_hex_byte('h', 3)} % 64) AS h2
      FROM a
    ),
    scaled AS (
      SELECT asset_id, text, w, h2,
             least(1.0, 32.0 / greatest(w, h2)) AS scale
      FROM dims
    )
    SELECT asset_id,
           CAST(w AS INT) AS width,
           CAST(h2 AS INT) AS height,
           CAST(greatest(1, CAST(trunc(w * scale) AS INT)) AS INT) AS out_w,
           CAST(greatest(1, CAST(trunc(h2 * scale) AS INT)) AS INT) AS out_h,
           sha256(text || ':' || CAST(greatest(1, CAST(trunc(w * scale) AS INT)) AS VARCHAR)
                       || 'x' || CAST(greatest(1, CAST(trunc(h2 * scale) AS INT)) AS VARCHAR))
             AS thumb_sha
    FROM scaled
    """,
    survey="ext_multimodal udf_scalar (mapInPandas resize, aspect-preserving)",
)
def ext_multimodal_resize(spark, sf_dir):
    from ltss_spark.functions.multimodal import documents_as_assets, resize_images

    return resize_images(documents_as_assets(_t(spark, sf_dir, "documents")), max_side=32)


@register(
    "ext_multimodal_frames",
    """
    WITH a AS (
      SELECT doc_id AS asset_id, text,
             octet_length(encode(text)) % 32 + 1 AS n_frames
      FROM documents
    )
    SELECT asset_id,
           CAST(n_frames AS INT) AS n_frames,
           CAST(g.i AS INT) AS frame_idx,
           sha256(text || ':f' || CAST(g.i AS VARCHAR)) AS frame_sha
    FROM a, UNNEST(generate_series(0, n_frames - 1, 4)) AS g(i)
    """,
    survey="ext_multimodal udtf (mapInPandas frame sampling, variable fan-out)",
)
def ext_multimodal_frames(spark, sf_dir):
    from ltss_spark.functions.multimodal import documents_as_assets, sample_frames

    return sample_frames(documents_as_assets(_t(spark, sf_dir, "documents")), every_n=4)


@register(
    "ext_token_topk",
    f"""
    WITH toks AS (
      SELECT lang, unnest({_TOKS}) AS token FROM documents
    ),
    counts AS (
      SELECT lang, token, COUNT(*) AS n
      FROM toks WHERE token <> '' GROUP BY 1, 2
    ),
    ranked AS (
      SELECT lang, token, n,
             CAST(row_number() OVER (PARTITION BY lang
                                     ORDER BY n DESC, token ASC) AS INT) AS rank
      FROM counts
    )
    SELECT lang, token, n, rank FROM ranked WHERE rank <= 10
    """,
    survey="ext_text_stats topk_group fn_string (corpus token frequency top-k)",
)
def ext_token_topk(spark, sf_dir):
    """Top-10 tokens per language — the vocabulary/frequency pass every
    corpus pipeline runs. Explode -> two-level hash aggregation (partial
    map-side combine bounds shuffle volume by |vocab|, not |tokens|) ->
    per-key top-k window over the counted (small) side only."""
    from ltss_spark.operators.text import tokens

    d = _t(spark, sf_dir, "documents")
    toks = d.select("lang", F.explode(tokens(F.col("text"))).alias("token"))
    counts = (
        toks.filter(F.col("token") != "")
        .groupBy("lang", "token")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    w = Window.partitionBy("lang").orderBy(F.col("n").desc(), F.col("token").asc())
    return (
        counts.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 10)
        .select("lang", "token", "n", "rank")
    )


@register(
    "ext_multimodal_audio",
    f"""
    WITH a AS (
      SELECT doc_id AS asset_id, text, md5(text) AS h,
             octet_length(encode(text)) AS nb
      FROM documents
    )
    SELECT asset_id,
           CAST(nb AS INT) AS n_bytes,
           CAST(500 + nb % 10000 AS INT) AS duration_ms,
           CAST(CASE {_hex_byte('h', 5)} % 4
                  WHEN 0 THEN 8000 WHEN 1 THEN 16000
                  WHEN 2 THEN 44100 ELSE 48000 END AS INT) AS sample_rate,
           round(-60.0 + ({_hex_byte('h', 7)} / 255.0) * 60.0, 6) AS loudness
    FROM a
    """,
    survey="ext_multimodal udf_scalar (mapInPandas audio feature extraction)",
)
def ext_multimodal_audio(spark, sf_dir):
    from ltss_spark.functions.multimodal import (
        documents_as_assets,
        extract_audio_features,
    )

    return extract_audio_features(
        documents_as_assets(_t(spark, sf_dir, "documents"))
    )


@register(
    "ext_url_canonical",
    r"""
    WITH u AS (
      SELECT doc_id,
             'HTTPS://WWW.' || source || '.example.com/docs/' || CAST(doc_id AS VARCHAR)
               || CASE WHEN doc_id % 3 = 0 THEN '/?utm_source=x&ref=y#frag'
                       WHEN doc_id % 3 = 1 THEN '/' ELSE '' END AS url
      FROM documents
    )
    SELECT doc_id, url,
           regexp_replace(
             regexp_replace(
               regexp_replace(lower(url), '^https?://(www\.)?', ''),
               '[?#].*$', ''),
             '/+$', '') AS canon,
           md5(regexp_replace(
             regexp_replace(
               regexp_replace(lower(url), '^https?://(www\.)?', ''),
               '[?#].*$', ''),
             '/+$', '')) AS canon_key
    FROM u
    """,
    survey="ext_dedup_exact fn_string (URL canonicalization - the web-corpus dedup key)",
)
def ext_url_canonical(spark, sf_dir):
    """URL canonicalization for web-corpus dedup: lowercase, strip scheme/
    www/query/fragment/trailing slashes; md5 of the canonical form is the
    dedup key (joins against ext_dedup_exact's group shape). URLs
    synthesized deterministically (the corpus has none); the regex chain is
    the real operator."""
    d = _t(spark, sf_dir, "documents")
    url = F.concat(
        F.lit("HTTPS://WWW."), F.col("source"), F.lit(".example.com/docs/"),
        F.col("doc_id").cast("string"),
        F.when(F.col("doc_id") % 3 == 0, F.lit("/?utm_source=x&ref=y#frag"))
        .when(F.col("doc_id") % 3 == 1, F.lit("/"))
        .otherwise(F.lit("")),
    )
    canon = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(F.lower(F.col("url")), r"^https?://(www\.)?", ""),
            r"[?#].*$", ""),
        r"/+$", "")
    return (
        d.select("doc_id", url.alias("url"))
        .select("doc_id", "url", canon.alias("canon"), F.md5(canon).alias("canon_key"))
    )


def _cc_oracle(select: str) -> str:
    """Recursive min-label propagation over the MinHash-LSH pair graph —
    the DuckDB mirror of operators/graph.py connected_components (which
    uses large/small-star on Spark; both compute the component MINIMUM, so
    results are identical even though the algorithms differ). The recursive
    UNION (set semantics) is the fixpoint; `label < e.v` prunes labels that
    can never be a component min at the target node."""
    return f"""
    WITH RECURSIVE pairs AS ( {_minhash_oracle(12, 4)} ),
    edges AS (
      SELECT doc_a AS u, doc_b AS v FROM pairs
      UNION
      SELECT doc_b AS u, doc_a AS v FROM pairs
    ),
    reach AS (
      SELECT u, u AS label FROM (SELECT DISTINCT u FROM edges) t
      UNION
      SELECT e.v AS u, r.label
      FROM reach r JOIN edges e ON r.u = e.u
      WHERE r.label < e.v
    ),
    comp AS (SELECT u AS doc_id, MIN(label) AS cluster_id FROM reach GROUP BY u),
    assign AS (
      SELECT d.doc_id, COALESCE(c.cluster_id, d.doc_id) AS cluster_id
      FROM documents d LEFT JOIN comp c ON d.doc_id = c.doc_id
    )
    {select}
    """


@register(
    "ext_dedup_cluster",
    _cc_oracle("SELECT doc_id, cluster_id FROM assign"),
    survey="ext_dedup_near (transitive closure of near-dup pairs: distributed connected components, large/small-star)",
)
def ext_dedup_cluster(spark, sf_dir):
    """Near-dup CLUSTERS (not just pairs): connected components of the
    MinHash-LSH pair graph via alternating large-star/small-star
    (operators/graph.py) — duplicates are transitive, so survivor selection
    needs components. cluster_id = min doc_id of the component."""
    from ltss_spark.operators.graph import connected_components

    docs = _t(spark, sf_dir, "documents")
    pairs = minhash_lsh_pairs(docs, k=5, num_hashes=12, bands=4)
    comp = connected_components(pairs).withColumnRenamed("node", "doc_id")
    return docs.select("doc_id").join(comp, "doc_id", "left").select(
        "doc_id", F.coalesce("component", "doc_id").alias("cluster_id")
    )


@register(
    "ext_dedup_pipeline",
    _cc_oracle("""
    , sizes AS (SELECT cluster_id, COUNT(*) AS n_members FROM assign GROUP BY cluster_id)
    SELECT a.doc_id, a.cluster_id, s.n_members,
           a.doc_id = a.cluster_id AS is_survivor
    FROM assign a JOIN sizes s ON a.cluster_id = s.cluster_id
    """),
    survey="ext_dedup_near ext_dedup_exact (end-to-end dedup: pairs -> components -> deterministic survivor per cluster)",
)
def ext_dedup_pipeline(spark, sf_dir):
    """End-to-end near-dedup pipeline: LSH candidate pairs -> connected
    components -> cluster sizes + deterministic survivor flag (keep iff
    doc_id == cluster minimum). The kept set (is_survivor) is the
    deduplicated training corpus; n_members is the duplication factor."""
    from ltss_spark.operators.graph import dedup_clusters

    docs = _t(spark, sf_dir, "documents")
    pairs = minhash_lsh_pairs(docs, k=5, num_hashes=12, bands=4)
    return dedup_clusters(docs, pairs)


def _oracle_hex4(expr: str) -> str:
    """First 4 hex chars of md5(expr) as a BIGINT (exact, 16 bits)."""
    digit = f"(strpos('0123456789abcdef', substr(md5({expr}), {{j}}, 1)) - 1)"
    return "(" + " + ".join(
        f"{digit.format(j=j)} * {16 ** (4 - j)}" for j in range(1, 5)
    ) + ")"


def _oracle_hex_prefix(col: str, n: int) -> str:
    """First ``n`` hex chars of an md5 STRING column as a BIGINT — the
    DuckDB mirror of Spark's conv(substring(k, 1, n), 16, 10)."""
    digit = f"(strpos('0123456789abcdef', substr({col}, {{j}}, 1)) - 1)"
    return "(" + " + ".join(
        f"{digit.format(j=j)} * {16 ** (n - j)}" for j in range(1, n + 1)
    ) + ")"


@register(
    "ext_contamination",
    f"""
    WITH {_SHINGLES_CTE},
    tr AS (SELECT DISTINCT shingle FROM sh WHERE doc_id % 10 != 0),
    ev AS (SELECT doc_id, shingle FROM sh WHERE doc_id % 10 = 0),
    tot AS (SELECT doc_id, COUNT(*) AS n_shingles FROM ev GROUP BY doc_id),
    hits AS (
      SELECT doc_id, COUNT(*) AS n_cont FROM ev
      WHERE shingle IN (SELECT shingle FROM tr) GROUP BY doc_id
    )
    SELECT t.doc_id, t.n_shingles,
           COALESCE(h.n_cont, 0) AS n_contaminated,
           round(COALESCE(h.n_cont, 0) / t.n_shingles, 6) AS containment
    FROM tot t LEFT JOIN hits h ON t.doc_id = h.doc_id
    """,
    survey="ext_dedup_near fn_string (benchmark-contamination check: eval k-gram containment in the train corpus)",
)
def ext_contamination(spark, sf_dir):
    """Benchmark contamination: every 10th doc plays the eval set, the rest
    the training corpus; containment = fraction of the eval doc's 5-gram
    shingles found verbatim anywhere in training (inverted-index semi-join,
    operators/corpus.py)."""
    from ltss_spark.operators.corpus import contamination

    d = _t(spark, sf_dir, "documents")
    return contamination(
        d.filter(F.col("doc_id") % 10 != 0), d.filter(F.col("doc_id") % 10 == 0), k=5
    )


@register(
    "ext_shuffle_shard",
    f"""
    WITH keyed AS (
      SELECT doc_id AS id,
             md5('ltss|' || CAST(doc_id AS VARCHAR)) AS k
      FROM documents
    ),
    sharded AS (
      SELECT id, k,
             CAST({_oracle_hex_prefix('k', 8)} % 8 AS INT) AS shard
      FROM keyed
    )
    SELECT id, shard,
           CAST(ROW_NUMBER() OVER (PARTITION BY shard ORDER BY k, id) AS INT)
             AS pos_in_shard
    FROM sharded
    """,
    survey="ext_hash_split win_rank fn_string (deterministic shuffle-and-shard: training-order assignment, epoch-reseedable)",
)
def ext_shuffle_shard(spark, sf_dir):
    """Deterministic global shuffle + sharding (operators/corpus.
    shuffle_shard): md5(seed || id) is the permutation key, shard = key
    prefix mod n, position = key rank within the shard — stable across
    runs and engines, reseedable per epoch, and executed as ONE
    shard-partitioned window (no single-reducer global ORDER BY). The
    final pipeline step that breaks crawl/domain/time ordering before
    training."""
    from ltss_spark.operators.corpus import shuffle_shard

    return shuffle_shard(_t(spark, sf_dir, "documents"), n_shards=8)


@register(
    "ext_hash_split",
    f"""
    SELECT doc_id,
           {_oracle_hex4("CAST(doc_id AS VARCHAR)")} % 100 AS bucket,
           CASE WHEN {_oracle_hex4("CAST(doc_id AS VARCHAR)")} % 100 < 90 THEN 'train'
                WHEN {_oracle_hex4("CAST(doc_id AS VARCHAR)")} % 100 < 95 THEN 'validation'
                ELSE 'test' END AS split
    FROM documents
    """,
    survey="ext_text_stats fn_string (deterministic train/val/test split: content-free md5 bucketing, shuffle-free)",
)
def ext_hash_split(spark, sf_dir):
    """Deterministic 90/5/5 split by md5(doc_id) bucket — stable under
    re-runs and corpus growth (operators/corpus.py); pure expression, no
    shuffle at any scale."""
    from ltss_spark.operators.corpus import hash_split

    return hash_split(_t(spark, sf_dir, "documents"), train_pct=90, val_pct=5)


@register(
    "ext_sample_group",
    """
    SELECT doc_id, lang, sample_rank FROM (
      SELECT doc_id, lang,
             CAST(ROW_NUMBER() OVER (
               PARTITION BY lang
               ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS INT)
               AS sample_rank,
             CAST(ceil(COUNT(*) OVER (PARTITION BY lang) * 0.2) AS BIGINT) AS quota
      FROM documents
    ) WHERE sample_rank <= quota
    """,
    survey="win_rank ext_text_stats (deterministic stratified sampling: md5-ordered per-stratum quota)",
)
def ext_sample_group(spark, sf_dir):
    """Stratified 20% sample per language, deterministic (md5 order, not
    df.sample whose output depends on partitioning) — operators/corpus.py."""
    from ltss_spark.operators.corpus import stratified_sample

    return stratified_sample(
        _t(spark, sf_dir, "documents"), stratum_col="lang", fraction=0.2
    )


@register(
    "ext_repetition",
    f"""
    WITH toks AS (SELECT doc_id, {_TOKS} AS t FROM documents),
    g AS (
      SELECT doc_id, array_to_string(t[u.i:u.i + 2], ' ') AS gram
      FROM toks, UNNEST(generate_series(1, greatest(len(t) - 2, 1))) AS u(i)
      WHERE len(t[u.i:u.i + 2]) = 3
    )
    SELECT doc_id, CAST(COUNT(*) AS INT) AS n_grams,
           CAST(COUNT(DISTINCT gram) AS INT) AS n_distinct,
           round(1 - COUNT(DISTINCT gram) / COUNT(*), 6) AS rep_ratio
    FROM g GROUP BY doc_id
    """,
    survey="ext_text_stats fn_array (intra-doc repetition: duplicate 3-gram fraction, the Gopher/RefinedWeb signal)",
)
def ext_repetition(spark, sf_dir):
    """Intra-document repetition score: duplicate 3-gram fraction per doc,
    computed as per-row array expressions (no shuffle, no explode) —
    operators/corpus.py."""
    from ltss_spark.operators.corpus import repetition_stats

    return repetition_stats(_t(spark, sf_dir, "documents"), k=3)


_PII_INJECT_SQL = """
      text || CASE WHEN doc_id % 4 = 0
                     THEN ' reach me at user' || CAST(doc_id AS VARCHAR) || '@mail.example.org'
                   WHEN doc_id % 4 = 1 THEN ' call +1 555-123-4567 now'
                   WHEN doc_id % 4 = 2
                     THEN ' server at 192.168.' || CAST(doc_id % 250 AS VARCHAR) || '.42 up'
                   ELSE '' END
"""


def _pii_oracle() -> str:
    from ltss_spark.operators.text import PII_PATTERNS

    red = "raw"
    for tag, pat in PII_PATTERNS:
        red = f"regexp_replace({red}, '{pat}', '[{tag}]', 'g')"
    counts = ",\n           ".join(
        f"len(regexp_extract_all(raw, '{pat}')) AS n_{tag.lower()}"
        for tag, pat in PII_PATTERNS
    )
    return f"""
    WITH injected AS (SELECT doc_id, {_PII_INJECT_SQL} AS raw FROM documents)
    SELECT doc_id, {red} AS redacted,
           {counts}
    FROM injected
    """


@register(
    "ext_pii_redact",
    _pii_oracle(),
    survey="fn_string ext_text_stats (PII scrub: typed placeholder redaction + per-type audit counts, RE2-safe patterns)",
)
def ext_pii_redact(spark, sf_dir):
    """PII redaction for training corpora: emails/phones/IPv4 replaced with
    typed placeholders, plus per-type match counts (the audit trail a scrub
    job must emit). PII is synthesized deterministically (the corpus has
    none); the regexp chain is the real operator and the patterns are
    RE2-safe so the identical strings run in the DuckDB oracle
    (operators/text.py PII_PATTERNS)."""
    from ltss_spark.operators.text import PII_PATTERNS, pii_counts, pii_redact

    d = _t(spark, sf_dir, "documents")
    raw = F.concat(
        F.col("text"),
        F.when(
            F.col("doc_id") % 4 == 0,
            F.concat(F.lit(" reach me at user"), F.col("doc_id").cast("string"),
                     F.lit("@mail.example.org")),
        )
        .when(F.col("doc_id") % 4 == 1, F.lit(" call +1 555-123-4567 now"))
        .when(
            F.col("doc_id") % 4 == 2,
            F.concat(F.lit(" server at 192.168."),
                     (F.col("doc_id") % 250).cast("string"), F.lit(".42 up")),
        )
        .otherwise(F.lit("")),
    )
    counts = pii_counts(F.col("raw"))
    return d.select("doc_id", raw.alias("raw")).select(
        "doc_id",
        pii_redact(F.col("raw")).alias("redacted"),
        *[c.cast("long").alias(name) for name, c in counts.items()],
    )


@register(
    "ext_dedup_incremental",
    f"""
    WITH fp AS (SELECT doc_id, md5({_NORM}) AS fp FROM documents),
    seen AS (SELECT DISTINCT fp FROM fp WHERE doc_id % 5 != 0),
    batch AS (
      SELECT MIN(doc_id) AS doc_id, fp
      FROM fp WHERE doc_id % 5 = 0 GROUP BY fp
    )
    SELECT doc_id, fp FROM batch
    WHERE fp NOT IN (SELECT fp FROM seen)
    """,
    survey="ext_dedup_exact join_anti (incremental dedup: new batch vs historical fingerprint index, never re-scans the corpus)",
)
def ext_dedup_incremental(spark, sf_dir):
    """The production dedup mode: every 5th doc plays the incoming batch,
    the rest the historical corpus represented ONLY by its fingerprint
    index; survivors = intra-batch min-id per fingerprint, anti-joined
    against the index (operators/corpus.py incremental_dedup)."""
    from ltss_spark.operators.corpus import incremental_dedup
    from ltss_spark.operators.dedup import normalize_text

    d = _t(spark, sf_dir, "documents")
    seen = d.filter(F.col("doc_id") % 5 != 0).select(
        F.md5(normalize_text(F.col("text"))).alias("fp")
    ).distinct()
    return incremental_dedup(d.filter(F.col("doc_id") % 5 == 0), seen)


@register(
    "ext_quality_filter",
    f"""
    WITH d AS (SELECT doc_id, {_NORM} AS norm, {_TOKS} AS toks FROM documents),
    g AS (
      SELECT doc_id, COUNT(*) AS n_grams, COUNT(DISTINCT gram) AS n_distinct
      FROM (
        SELECT doc_id, array_to_string(t[u.i:u.i + 2], ' ') AS gram
        FROM (SELECT doc_id, {_TOKS} AS t FROM documents) toks2,
             UNNEST(generate_series(1, greatest(len(t) - 2, 1))) AS u(i)
        WHERE len(t[u.i:u.i + 2]) = 3
      ) GROUP BY doc_id
    ),
    m AS (
      SELECT d.doc_id,
             CAST(len(toks) AS INT) AS n_tokens,
             COALESCE(round(1 - g.n_distinct / g.n_grams, 6), 1.0) AS rep_ratio,
             round(len(list_filter(toks, x -> x IN ({_STOP_LIST})))
                   / len(toks), 6) AS stopword_ratio
      FROM d LEFT JOIN g ON d.doc_id = g.doc_id
    )
    SELECT doc_id, n_tokens, rep_ratio, stopword_ratio,
           CASE WHEN n_tokens < 50 THEN 'too_short'
                WHEN rep_ratio > 0.2 THEN 'repetitive'
                WHEN stopword_ratio < 0.01 THEN 'no_stopwords'
                ELSE 'kept' END AS reason,
           (CASE WHEN n_tokens < 50 THEN 'too_short'
                 WHEN rep_ratio > 0.2 THEN 'repetitive'
                 WHEN stopword_ratio < 0.01 THEN 'no_stopwords'
                 ELSE 'kept' END) = 'kept' AS keep
    FROM m
    """,
    survey="ext_text_stats fn_conditional (C4/RefinedWeb-style composed quality filter with reject reasons, one scan)",
)
def ext_quality_filter(spark, sf_dir):
    """Keep/drop decision per document with the FIRST failing rule as the
    reject reason (length, intra-doc repetition, stopword presence) — all
    signals computed in one projection pass (operators/corpus.py
    quality_filter)."""
    from ltss_spark.operators.corpus import quality_filter

    return quality_filter(_t(spark, sf_dir, "documents"))


@register(
    "ext_pack_sequences",
    f"""
    WITH t AS (
      SELECT doc_id, lang, CAST(len({_TOKS}) AS INT) AS n_tokens,
             md5(CAST(doc_id AS VARCHAR)) AS h
      FROM documents
    ),
    c AS (
      SELECT doc_id, lang AS stratum, n_tokens,
             CAST(SUM(n_tokens) OVER (PARTITION BY lang ORDER BY h, doc_id
                                      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
      FROM t
    )
    SELECT doc_id, stratum, n_tokens,
           CAST(floor((cum - n_tokens) / 2048.0) AS BIGINT) AS bin_id,
           CAST((cum - n_tokens) % 2048 AS BIGINT) AS bin_offset,
           n_tokens > 2048 AS oversize
    FROM c
    """,
    survey="win_cumulative ext_text_stats (deterministic sequence packing: parallel-prefix bin assignment per stratum)",
)
def ext_pack_sequences(spark, sf_dir):
    """Training-context packing: documents assigned to 2048-token bins by
    running cumsum in stable md5 order within each language stratum — the
    scalable (parallel-prefix) stand-in for greedy sequential packing
    (operators/corpus.py pack_sequences)."""
    from ltss_spark.operators.corpus import pack_sequences

    return pack_sequences(_t(spark, sf_dir, "documents"), context_tokens=2048)


@register(
    "ext_sim_search_pq",
    _ANN_AUDIT_ORACLE,
    survey="ext_sim_search (product quantization + asymmetric distance + exact rescore, FAISS-IVFPQ scoring shape)",
)
def ext_sim_search_pq(spark, sf_dir):
    """PQ-compressed ANN recall audit: corpus encoded to 16 centroid codes
    per vector (16x read-volume cut vs raw float32), scanned with
    broadcast ADC lookup tables, rerank deepest candidates re-scored
    exactly (operators/similarity.py cosine_topk_pq). Rerank depth SCALES
    with the corpus — max(100, n/5) capped at 1000 — because ADC ranking
    quality is relative: a fixed top-100 is 20% of a 500-vector corpus
    but 5% of 2000, and the sf0.1 sweep measured recall falling 4-5/5 ->
    1/5 for one query at fixed 100 (restored to 4-5/5 at n/5=400). Past
    the cap, recall is the PQ codebook's job (m/kc), not rerank's.
    Measured 4-5 common at sf0.001/0.01/0.1 with the adaptive depth,
    floor 3. Equality at rerank=all in pytest."""
    from ltss_spark.operators.similarity import cosine_topk_pq

    emb = _t(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 3)
    rerank = min(1000, max(100, emb.count() // 5))
    return _ann_recall_audit(
        cosine_topk_pq(emb, q, k=5, rerank=rerank, dim=64),
        cosine_topk(emb, q, k=5),
        min_common=3,
    )


@register(
    "ext_mixture_sample",
    """
    SELECT doc_id, lang, sample_rank, quota FROM (
      SELECT doc_id, lang,
             CAST(ROW_NUMBER() OVER (
               PARTITION BY lang
               ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS INT)
               AS sample_rank,
             CAST(CASE lang WHEN 'en' THEN 50 WHEN 'de' THEN 20
                            WHEN 'zh' THEN 20 WHEN 'fr' THEN 5
                            WHEN 'es' THEN 5 ELSE 0 END AS BIGINT) AS quota
      FROM documents
    ) WHERE sample_rank <= quota
    """,
    survey="win_rank ext_text_stats (domain-mixture resampling: per-stratum weighted quotas, Pile/Dolma mixing step)",
)
def ext_mixture_sample(spark, sf_dir):
    """Training-mix construction: resample the corpus to pinned language
    proportions (en 50% / de 20% / zh 20% / fr 5% / es 5% of a 100-doc
    mix), deterministic md5 order per stratum (operators/corpus.py
    mixture_sample). One shuffle; weights are plan literals."""
    from ltss_spark.operators.corpus import mixture_sample

    return mixture_sample(
        _t(spark, sf_dir, "documents"),
        weights={"en": 0.5, "de": 0.2, "zh": 0.2, "fr": 0.05, "es": 0.05},
        total=100,
    )


@register(
    "ext_sim_search_ivfpq",
    _ANN_AUDIT_ORACLE,
    survey="ext_sim_search (IVF coarse lists x PQ/ADC codes + exact rescore — the full FAISS-IVFPQ 100TB shape)",
)
def ext_sim_search_ivfpq(spark, sf_dir):
    """IVF+PQ composed ANN recall audit: nprobe/n_centroids bounds which
    candidates are scanned, m-byte PQ codes bound the read per candidate,
    exact rescore restores precision (operators/similarity.py
    cosine_topk_ivfpq). Rerank depth scales with the corpus like
    ext_sim_search_pq (fixed 100 measured 1/5 recall for one sf0.1 query;
    n/5 restores 5/5); nprobe stays 10/16 — probing a subset is the
    POINT of IVF, and the residual miss (one sf0.1 query at 3/5 whose
    neighbors live in unprobed lists) is the honest IVF trade, above the
    floor. Measured 3-5 common at sf0.001/0.01/0.1, floor 2. Equality at
    full probe in pytest."""
    from ltss_spark.operators.similarity import cosine_topk_ivfpq

    emb = _t(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 3)
    rerank = min(1000, max(100, emb.count() // 5))
    return _ann_recall_audit(
        cosine_topk_ivfpq(
            emb, q, k=5, n_centroids=16, nprobe=10, rerank=rerank
        ),
        cosine_topk(emb, q, k=5),
        min_common=2,
    )


@register(
    "ext_tfidf",
    f"""
    WITH toks AS (
      SELECT doc_id, unnest({_TOKS}) AS token FROM documents
    ),
    tfc AS (
      SELECT doc_id, token, COUNT(*) AS tf
      FROM toks WHERE token <> '' GROUP BY 1, 2
    ),
    dfc AS (SELECT token, COUNT(*) AS df FROM tfc GROUP BY 1),
    nd AS (SELECT COUNT(DISTINCT doc_id) AS n_docs FROM documents),
    scored AS (
      SELECT tfc.doc_id, tfc.token, tfc.tf, dfc.df,
             round(tfc.tf * ln((nd.n_docs + 1.0) / (dfc.df + 1.0)), 6) AS score
      FROM tfc JOIN dfc ON tfc.token = dfc.token CROSS JOIN nd
    ),
    ranked AS (
      SELECT doc_id, token, tf, df, score,
             CAST(row_number() OVER (PARTITION BY doc_id
                                     ORDER BY score DESC, token ASC) AS INT)
               AS rank
      FROM scored
    )
    SELECT doc_id, token, tf, df, score, rank FROM ranked WHERE rank <= 3
    """,
    survey="ext_text_stats topk_group fn_string agg_basic (per-doc TF-IDF keyword extraction)",
)
def ext_tfidf(spark, sf_dir):
    """Top-3 characteristic terms per document by smoothed TF-IDF
    (operators/text.tfidf_topk): two hash aggregations + one per-doc
    window; the corpus size joins in as a broadcast 1-row aggregate.
    Scores round to 6 decimals BEFORE ranking so the order is
    engine-independent (ln is transcendental), token as tie-break."""
    from ltss_spark.operators.text import tfidf_topk

    return tfidf_topk(_t(spark, sf_dir, "documents"), k=3)


@register(
    "ext_unigram_lm",
    f"""
    WITH toks AS (
      SELECT doc_id, unnest({_TOKS}) AS token FROM documents
    ),
    tnz AS (SELECT doc_id, token FROM toks WHERE token <> ''),
    counts AS (SELECT token, COUNT(*) AS c FROM tnz GROUP BY 1),
    total AS (SELECT COUNT(*) AS t FROM tnz),
    scored AS (
      SELECT doc_id, round(ln(CAST(c AS DOUBLE) / t), 6) AS lp
      FROM tnz JOIN counts USING (token) CROSS JOIN total
    )
    SELECT doc_id, COUNT(*) AS n_tokens,
           round(CAST(SUM(CAST(lp AS DECIMAL(38,6))) AS DOUBLE) / COUNT(*), 6)
             AS avg_logprob
    FROM scored GROUP BY doc_id
    """,
    survey="ext_text_stats fn_math agg_basic (unigram-LM average log-probability: perplexity-style quality signal)",
)
def ext_unigram_lm(spark, sf_dir):
    """Per-doc average token log-probability under the corpus unigram LM
    (operators/text.unigram_logprob) — the cheap perplexity proxy used for
    quality filtering. Per-token logprobs round to 6 decimals BEFORE the
    exact-decimal sum, so the order-sensitive double accumulation never
    happens (the repo's transcendental-determinism rule)."""
    from ltss_spark.operators.text import unigram_logprob

    return unigram_logprob(_t(spark, sf_dir, "documents"))


@register(
    "ext_bigram_lm",
    f"""
    WITH toks AS (SELECT doc_id, {_TOKS} AS t FROM documents),
    bg AS (
      SELECT doc_id, t[u.i] AS w1, t[u.i + 1] AS w2
      FROM toks, UNNEST(generate_series(1, len(t) - 1)) AS u(i)
      WHERE t[u.i] <> '' AND t[u.i + 1] <> ''
    ),
    c2 AS (SELECT w1, w2, COUNT(*) AS c2 FROM bg GROUP BY 1, 2),
    c1 AS (SELECT w1, COUNT(*) AS c1 FROM bg GROUP BY 1),
    v AS (SELECT COUNT(*) AS v FROM c1),
    lp AS (
      SELECT bg.doc_id,
             round(ln((c2.c2 + 0.5) / (c1.c1 + 0.5 * v.v)), 6) AS lp
      FROM bg JOIN c2 USING (w1, w2) JOIN c1 USING (w1) CROSS JOIN v
    ),
    agg AS (
      SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
             round(CAST(SUM(CAST(lp AS DECIMAL(38,6))) AS DOUBLE) / COUNT(*), 6)
               AS avg_logprob
      FROM lp GROUP BY doc_id
    )
    SELECT doc_id, n_bigrams, avg_logprob,
           round(exp(-avg_logprob), 4) AS ppl
    FROM agg
    """,
    survey="ext_text_stats fn_math agg_basic (add-alpha bigram-LM perplexity: the CCNet-style sequence-level quality filter)",
)
def ext_bigram_lm(spark, sf_dir):
    """Per-doc average bigram log-probability + perplexity under the
    add-0.5-smoothed corpus bigram LM (operators/text.bigram_logprob) —
    the sequence-level quality filter (CCNet uses a KenLM score the same
    way; here the LM is trained on the corpus itself in the same pass).
    Transcendental-determinism rule as everywhere: per-bigram ln rounds
    to 6 before the exact DECIMAL sum; ppl is exp(-avg) of the rounded
    average."""
    from ltss_spark.operators.text import bigram_logprob

    return bigram_logprob(_t(spark, sf_dir, "documents"))


@register(
    "ext_dedup_spans",
    f"""
    WITH toks AS (SELECT doc_id, {_TOKS} AS t FROM documents),
    wins AS (
      SELECT doc_id, u.i - 1 AS pos, array_to_string(t[u.i:u.i + 4], ' ') AS gram
      FROM toks, UNNEST(generate_series(1, greatest(len(t) - 4, 1))) AS u(i)
      WHERE len(t[u.i:u.i + 4]) = 5
    ),
    gdf AS (SELECT gram, COUNT(DISTINCT doc_id) AS df FROM wins GROUP BY 1),
    scored AS (SELECT doc_id, pos, df > 1 AS is_dup FROM wins JOIN gdf USING (gram))
    SELECT doc_id, COUNT(*) AS n_windows,
           CAST(SUM(CASE WHEN is_dup THEN 1 ELSE 0 END) AS BIGINT)
             AS n_dup_windows,
           round(CAST(SUM(CASE WHEN is_dup THEN 1 ELSE 0 END) AS DOUBLE)
                 / COUNT(*), 6) AS dup_ratio,
           CAST(MIN(CASE WHEN is_dup THEN pos END) AS INT) AS first_dup_pos
    FROM scored GROUP BY doc_id
    """,
    survey="ext_dedup_near ext_text_stats fn_string (cross-doc duplicate k-gram SPANS: substring-dedup audit, positional)",
)
def ext_dedup_spans(spark, sf_dir):
    """Positional duplicate-span audit (operators/dedup.
    duplicate_span_stats): which parts of each doc are verbatim k-gram
    repeats of OTHER docs — the substring-dedup signal doc-level MinHash
    cannot see. Linear: one distinct, one df aggregate, one join back."""
    from ltss_spark.operators.dedup import duplicate_span_stats

    return duplicate_span_stats(_t(spark, sf_dir, "documents"), k=5)


@register(
    "ext_dedup_span_remove",
    f"""
    WITH toks AS (SELECT doc_id, {_TOKS} AS t FROM documents),
    wins AS (
      SELECT doc_id, u.i - 1 AS pos, array_to_string(t[u.i:u.i + 4], ' ') AS gram
      FROM toks, UNNEST(generate_series(1, greatest(len(t) - 4, 1))) AS u(i)
      WHERE len(t[u.i:u.i + 4]) = 5
    ),
    gdf AS (SELECT gram, COUNT(DISTINCT doc_id) AS df FROM wins GROUP BY 1),
    covered AS (
      SELECT DISTINCT w.doc_id, u2.j AS tpos
      FROM wins w JOIN gdf USING (gram), UNNEST(generate_series(w.pos, w.pos + 4)) AS u2(j)
      WHERE gdf.df > 1
    ),
    tokpos AS (
      SELECT doc_id, u.i - 1 AS tpos, t[u.i] AS token
      FROM toks, UNNEST(generate_series(1, len(t))) AS u(i)
      WHERE t[u.i] <> ''
    ),
    kept AS (
      SELECT doc_id, tpos, token FROM tokpos ANTI JOIN covered USING (doc_id, tpos)
    ),
    rebuilt AS (
      SELECT doc_id, string_agg(token, ' ' ORDER BY tpos) AS clean_text,
             COUNT(*) AS n_kept
      FROM kept GROUP BY doc_id
    ),
    totals AS (SELECT doc_id, COUNT(*) AS n_total FROM tokpos GROUP BY doc_id)
    SELECT d.doc_id,
           COALESCE(r.clean_text, '') AS clean_text,
           COALESCE(r.n_kept, 0) AS n_kept,
           COALESCE(t.n_total, 0) - COALESCE(r.n_kept, 0) AS n_removed
    FROM documents d
    LEFT JOIN totals t ON d.doc_id = t.doc_id
    LEFT JOIN rebuilt r ON d.doc_id = r.doc_id
    """,
    survey="ext_dedup_near fn_string fn_array (substring dedup OUTPUT: duplicate spans removed, order-safe reassembly)",
)
def ext_dedup_span_remove(spark, sf_dir):
    """The cleaned corpus after substring dedup (operators/dedup.
    remove_duplicate_spans): tokens covered by any cross-doc duplicate
    k-gram window are dropped and the survivors reassemble in position
    order (array_sort over (pos, token) structs — deterministic where a
    bare collect_list is not). The oracle hash pins the exact rewritten
    text of every document."""
    from ltss_spark.operators.dedup import remove_duplicate_spans

    return remove_duplicate_spans(_t(spark, sf_dir, "documents"), k=5)


@register(
    "ext_dedup_cluster_embed",
    f"""
    WITH tp AS ({_embed_pairs_sql(0.4, _EMBED_AUDIT_CAP)})
    SELECT (SELECT CAST(count(*) AS BIGINT) FROM embeddings) AS n_vectors,
           CAST(count(*) AS INT) AS n_true_pairs,
           TRUE AS cluster_ok
    FROM tp
    """,
    survey="ext_dedup_near ext_sim_search (SEMANTIC dedup clusters: connected components of the LSH-bucketed embedding-cosine graph, invariant audit)",
)
def ext_dedup_cluster_embed(spark, sf_dir):
    """SemDeDup-style semantic dedup audit (invariant form, VERDICT r3
    item 2): near-identical EMBEDDINGS (cosine >= 0.4 on the
    weakly-clustered fixture; ~0.9 on a real encoder's output) form an
    undirected graph; large/small-star connected components assign every
    vector a cluster. The REGISTERED plan builds the graph with the
    LSH-bucketed pair generator (the 100 TB shape — no all-pairs join that
    grows with the corpus). The oracle pins: (a) every vector receives
    exactly one cluster assignment (n_vectors), (b) the capped-subsample
    TRUE pair count, (c) a floor (0.75) on the fraction of true subsample
    pairs landing in the same cluster (measured 0.882/0.923/1.000 at
    sf0.001/0.01/0.1 — CC transitivity recovers some LSH-missed edges).
    Raw cluster output is pinned by tests/test_operators.py."""
    from ltss_spark.operators.graph import connected_components

    emb = _t(spark, sf_dir, "embeddings")
    pairs = embedding_dup_pairs(emb, threshold=0.4, method="lsh", dim=64)
    comp = connected_components(pairs, src="id_a", dst="id_b").withColumnRenamed(
        "node", "vec_id"
    )
    # lazy checkpoint: the cluster assignment feeds THREE branches (n_vec
    # count, both sides of the pair audit) — cut the lineage so the
    # join-over-CC subplan executes once, not per branch
    clusters = emb.select("vec_id").join(comp, "vec_id", "left").select(
        "vec_id", F.coalesce("component", "vec_id").alias("cluster_id")
    ).localCheckpoint(eager=False)
    sample_exact = embedding_dup_pairs(
        emb.filter(F.col("vec_id") < _EMBED_AUDIT_CAP), threshold=0.4, method="exact"
    ).select("id_a", "id_b")
    ca = clusters.select(
        F.col("vec_id").alias("id_a"), F.col("cluster_id").alias("cl_a")
    )
    cb = clusters.select(
        F.col("vec_id").alias("id_b"), F.col("cluster_id").alias("cl_b")
    )
    pair_audit = (
        sample_exact.join(ca, "id_a")
        .join(cb, "id_b")
        .agg(
            F.count(F.lit(1)).cast("int").alias("n_true_pairs"),
            # coalesce TRUE: vacuously-true on an empty sample (see
            # recall_ok above)
            F.coalesce(
                F.sum((F.col("cl_a") == F.col("cl_b")).cast("int"))
                >= F.count(F.lit(1)) * F.lit(0.75),
                F.lit(True),
            ).alias("cluster_ok"),
        )
    )
    n_vec = clusters.agg(F.count(F.lit(1)).alias("n_vectors"))
    return n_vec.crossJoin(pair_audit).select(
        "n_vectors", "n_true_pairs", "cluster_ok"
    )


@register(
    "ext_chunk_docs",
    f"""
    WITH d AS (SELECT doc_id, {_TOKS} AS t FROM documents),
    b AS (
      SELECT doc_id, t, len(t) AS n,
             CASE WHEN len(t) <= 64 THEN 1
                  ELSE CAST(ceil((len(t) - 64) / 48.0) AS INT) + 1 END AS n_chunks
      FROM d WHERE len(t) >= 1
    )
    SELECT doc_id,
           CAST(u.k AS INT) AS chunk_id,
           CAST(u.k * 48 AS INT) AS start_tok,
           CAST(len(t[u.k * 48 + 1 : u.k * 48 + 64]) AS INT) AS chunk_len,
           array_to_string(t[u.k * 48 + 1 : u.k * 48 + 64], ' ') AS chunk_text
    FROM b, UNNEST(generate_series(0, CAST(n_chunks AS BIGINT) - 1)) AS u(k)
    """,
    survey="ext_text_stats fn_array (context-window chunking: fixed-size token windows with overlap)",
)
def ext_chunk_docs(spark, sf_dir):
    """Fixed-size token chunking with overlap (operators/corpus.
    chunk_documents): chunk 64 / overlap 16 over the documents table —
    tokenize once, sequence+explode+slice, zero shuffles. The value hash
    pins every chunk's exact text and offsets."""
    from ltss_spark.operators.corpus import chunk_documents

    return chunk_documents(
        _t(spark, sf_dir, "documents"), chunk_tokens=64, overlap=16
    )


_BM25_TERMS = ("hash", "join", "vector")
_BM25_TERM_LIST = ", ".join(f"'{t}'" for t in _BM25_TERMS)


@register(
    "ext_bm25",
    f"""
    WITH d AS (SELECT doc_id, {_TOKS} AS t FROM documents),
    base AS (SELECT doc_id, len(t) AS dl, unnest(t) AS term FROM d),
    tf AS (
      SELECT doc_id, term, COUNT(*) AS tf, MIN(dl) AS dl
      FROM base WHERE term IN ({_BM25_TERM_LIST})
      GROUP BY doc_id, term
    ),
    dfc AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term),
    stats AS (
      SELECT COUNT(*) AS n_docs,
             CAST(SUM(CAST(len(t) AS DECIMAL(38,6))) AS DOUBLE)
               / CAST(COUNT(*) AS DOUBLE) AS avgdl
      FROM d
    ),
    scored AS (
      SELECT tf.doc_id,
             round(CAST(SUM(CAST(round(
               round(ln((n_docs - df + 0.5) / (df + 0.5) + 1.0), 8)
               * (tf * (1.2 + 1.0)
                  / (tf + 1.2 * (1.0 - 0.75 + 0.75 * dl / avgdl))), 9)
             AS DECIMAL(38,9))) AS DOUBLE), 6) AS score,
             CAST(COUNT(*) AS INT) AS n_terms_matched
      FROM tf JOIN dfc USING (term) CROSS JOIN stats
      GROUP BY tf.doc_id
    )
    SELECT doc_id, score, n_terms_matched,
           CAST(row_number() OVER (ORDER BY score DESC, doc_id ASC) AS INT) AS rank
    FROM scored
    ORDER BY score DESC, doc_id ASC
    LIMIT 10
    """,
    survey="ext_text_stats fn_math agg_basic topk_group (BM25 keyword retrieval, the lexical baseline beside ANN)",
)
def ext_bm25(spark, sf_dir):
    """BM25 top-10 for the query {hash, join, vector} (operators/text.
    bm25_topk): term-filtered explode, one TF hash agg, broadcast DF +
    corpus stats, exact-decimal score sum, TakeOrdered top-k. Every score
    value-hash-checked against DuckDB computing the identical arithmetic."""
    from ltss_spark.operators.text import bm25_topk

    return bm25_topk(_t(spark, sf_dir, "documents"), list(_BM25_TERMS), k=10)


@register(
    "ext_hybrid_rrf",
    f"""
    WITH d AS (SELECT doc_id, {_TOKS} AS t FROM documents),
    base AS (SELECT doc_id, len(t) AS dl, unnest(t) AS term FROM d),
    tf AS (
      SELECT doc_id, term, COUNT(*) AS tf, MIN(dl) AS dl
      FROM base WHERE term IN ({_BM25_TERM_LIST})
      GROUP BY doc_id, term
    ),
    dfc AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term),
    stats AS (
      SELECT COUNT(*) AS n_docs,
             CAST(SUM(CAST(len(t) AS DECIMAL(38,6))) AS DOUBLE)
               / CAST(COUNT(*) AS DOUBLE) AS avgdl
      FROM d
    ),
    bm25 AS (
      SELECT tf.doc_id,
             round(CAST(SUM(CAST(round(
               round(ln((n_docs - df + 0.5) / (df + 0.5) + 1.0), 8)
               * (tf * (1.2 + 1.0)
                  / (tf + 1.2 * (1.0 - 0.75 + 0.75 * dl / avgdl))), 9)
             AS DECIMAL(38,9))) AS DOUBLE), 6) AS score
      FROM tf JOIN dfc USING (term) CROSS JOIN stats
      GROUP BY tf.doc_id
    ),
    lex AS (
      SELECT doc_id,
             CAST(row_number() OVER (ORDER BY score DESC, doc_id ASC) AS INT)
               AS lex_rank
      FROM bm25 ORDER BY score DESC, doc_id ASC LIMIT 25
    ),
    v AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings
      WHERE vec_id IN (SELECT doc_id FROM documents)
    ),
    n AS (SELECT vec_id, e, sqrt(list_dot_product(e, e)) AS nrm FROM v),
    q AS (SELECT e AS qe, nrm AS qnrm FROM n WHERE vec_id = 0),
    cos AS (
      SELECT n.vec_id AS doc_id,
             round(list_dot_product(n.e, q.qe) / (n.nrm * q.qnrm), 6) AS cosine
      FROM n, q WHERE n.vec_id <> 0
    ),
    den AS (
      SELECT doc_id,
             CAST(row_number() OVER (ORDER BY cosine DESC, doc_id ASC) AS INT)
               AS dense_rank
      FROM cos ORDER BY cosine DESC, doc_id ASC LIMIT 25
    ),
    fused AS (
      SELECT doc_id, lex_rank, dense_rank,
             round(COALESCE(CAST(1 AS DOUBLE) / (60 + lex_rank), 0)
                   + COALESCE(CAST(1 AS DOUBLE) / (60 + dense_rank), 0), 6)
               AS rrf_score
      FROM lex FULL JOIN den USING (doc_id)
    )
    SELECT doc_id, lex_rank, dense_rank, rrf_score,
           CAST(row_number() OVER (ORDER BY rrf_score DESC, doc_id ASC) AS INT)
             AS rank
    FROM fused ORDER BY rrf_score DESC, doc_id ASC LIMIT 10
    """,
    survey="ext_sim_search ext_text_stats join_full win_rank (hybrid retrieval: BM25 lexical + embedding cosine fused by reciprocal-rank — the RAG/curation merge)",
)
def ext_hybrid_rrf(spark, sf_dir):
    """Hybrid retrieval, end to end (operators/text.hybrid_rrf): the
    lexical side is BM25 top-25 for the query {hash, join, vector}, the
    dense side is exact cosine top-25 around document 0's embedding (the
    corpus slice whose vec_ids are doc_ids), and the two rankings fuse by
    reciprocal rank (c=60), top-10 out. The fusion input is bounded at
    25+25 rows whatever the corpus size — all corpus-scale work happens
    inside the two retrievers, each already scale-shaped. The oracle
    recomputes BOTH retrievers and the fusion relationally; every rank
    and every rrf term must match exactly."""
    from ltss_spark.operators.similarity import cosine_topk
    from ltss_spark.operators.text import bm25_topk, hybrid_rrf

    docs = _t(spark, sf_dir, "documents")
    emb = _t(spark, sf_dir, "embeddings")
    corpus = emb.join(
        docs.select(F.col("doc_id").alias("vec_id")), "vec_id", "left_semi"
    )
    lex = bm25_topk(docs, list(_BM25_TERMS), k=25).select("doc_id", "rank")
    den = cosine_topk(corpus, corpus.filter(F.col("vec_id") == 0), k=25).select(
        F.col("candidate_id").alias("doc_id"), "rank"
    )
    return hybrid_rrf(lex, den, k=10)


_DSIR_ORACLE = f"""
    WITH base AS (
      SELECT doc_id, source IN ('src0', 'src1') AS is_target, text
      FROM documents
    ),
    toks AS (
      SELECT doc_id, is_target, unnest({_TOKS}) AS token FROM base
    ),
    tnz AS (SELECT doc_id, is_target, token FROM toks WHERE token <> ''),
    counts AS (
      SELECT token, COUNT(*) AS c_raw,
             COUNT(*) FILTER (WHERE is_target) AS c_t
      FROM tnz GROUP BY 1
    ),
    consts AS (
      SELECT SUM(c_raw) AS t_raw, SUM(c_t) AS t_t, COUNT(*) AS v FROM counts
    ),
    scored AS (
      SELECT doc_id, COUNT(*) AS n_tokens,
             round(CAST(SUM(CAST(round(ln(
                 ((c_t + 0.5) / (t_t + 0.5 * v)) /
                 ((c_raw + 0.5) / (t_raw + 0.5 * v))
               ), 6) AS DECIMAL(38,6))) AS DOUBLE) / COUNT(*), 6)
               AS dsir_score
      FROM tnz JOIN counts USING (token) CROSS JOIN consts
      WHERE NOT is_target
      GROUP BY doc_id
    ),
    pool AS (SELECT COUNT(*) AS n_pool FROM scored)
    SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens, dsir_score,
           CAST(row_number() OVER (ORDER BY dsir_score DESC, doc_id ASC)
                AS INT) AS rank,
           row_number() OVER (ORDER BY dsir_score DESC, doc_id ASC)
             <= CEIL(0.25 * n_pool) AS selected
    FROM scored CROSS JOIN pool
"""


@register(
    "ext_importance_resample",
    _DSIR_ORACLE,
    survey="ext_text_stats fn_math win_rank agg_basic (DSIR importance resampling: target-vs-raw unigram log-ratio scoring, top-quota domain selection)",
)
def ext_importance_resample(spark, sf_dir):
    """DSIR-shaped data selection (operators/corpus.importance_resample):
    documents from two exemplar sources define the TARGET unigram model;
    every other document scores by its average smoothed token log-ratio
    ln(p_target/p_raw), and the top 25% of the raw pool is selected. The
    in-domain flag rides through one token explode so a single hash agg
    yields both models; constants broadcast as 1-row aggregates; the
    Gumbel resampling of the paper is replaced by the deterministic
    top-quota rule so the oracle can check every score and the exact
    selection frontier."""
    from ltss_spark.operators.corpus import importance_resample

    docs = _t(spark, sf_dir, "documents")
    return importance_resample(docs, F.col("source").isin("src0", "src1"))


_VOCAB_ORACLE = f"""
    WITH base AS (
      SELECT doc_id, {_TOKS} AS toks FROM documents
    ),
    toks AS (
      SELECT doc_id, u.i AS pos, toks[u.i] AS token
      FROM base, UNNEST(generate_series(1, CAST(len(toks) AS BIGINT))) AS u(i)
      WHERE toks[u.i] <> ''
    ),
    vocab AS (
      SELECT token, token_id FROM (
        SELECT token,
               row_number() OVER (ORDER BY COUNT(*) DESC, token ASC) AS token_id
        FROM toks GROUP BY token
      ) WHERE token_id <= 1000
    ),
    enc AS (
      SELECT doc_id, pos, CAST(COALESCE(v.token_id, 0) AS INT) AS tid
      FROM toks LEFT JOIN vocab v USING (token)
    )
    SELECT doc_id,
           array_to_string(list(CAST(tid AS VARCHAR) ORDER BY pos, tid), '|') AS token_ids,
           CAST(COUNT(*) AS INT) AS n_tokens,
           CAST(SUM(tid) AS BIGINT) AS id_checksum
    FROM enc GROUP BY doc_id
"""


@register(
    "ext_vocab_encode",
    _VOCAB_ORACLE,
    survey="ext_text_stats fn_array agg_basic (vocabulary build + tokenize-to-ids: frequency-ranked vocab broadcast onto one posexplode pass)",
)
def ext_vocab_encode(spark, sf_dir):
    """Tokenize-to-ids (operators/corpus.vocab_encode): the 1000 most
    frequent tokens become ids 1..1000 (count DESC, token ASC — fully
    tie-broken), everything else 0 = <unk>, and each document returns as
    its id sequence in ORIGINAL token order plus count/checksum columns.
    One tokenize, one corpus-wide count agg (two-level bucket-then-global
    ranking window — the single-reducer piece is bounded by constants),
    a KB-scale broadcast join for the encode, order-safe array reassembly
    via (pos, id) struct sort. The id sequence serializes to a
    '|'-joined string (registry rule: no top-level array/map/struct
    output columns — the driver canonicalizer can't sort them); the
    oracle recomputes the whole pipeline relationally — ids, sequence
    order, checksums must match exactly."""
    from ltss_spark.operators.corpus import vocab_encode

    enc = vocab_encode(_t(spark, sf_dir, "documents"), vocab_size=1000)
    return enc.select(
        "doc_id",
        F.array_join(
            F.transform("token_ids", lambda x: x.cast("string")), "|"
        ).alias("token_ids"),
        "n_tokens",
        "id_checksum",
    )


@register(
    "ext_token_budget_mix",
    f"""
    WITH d AS (
      SELECT doc_id, source, CAST(len({_TOKS}) AS BIGINT) AS n_tokens
      FROM documents
    ),
    t AS (SELECT source, SUM(n_tokens) AS t_s FROM d GROUP BY source),
    z AS (SELECT SUM(POW(t_s, 0.5)) AS z FROM t),
    q AS (
      SELECT source,
             CAST(FLOOR(CAST(ROUND(POW(t_s, 0.5) / z, 6) AS DECIMAL(18,6))
                        * 40000) AS BIGINT) AS quota_tokens
      FROM t, z
    ),
    c AS (
      SELECT d.doc_id, d.source, d.n_tokens,
             CAST(SUM(d.n_tokens) OVER (
               PARTITION BY d.source
               ORDER BY md5(CAST(d.doc_id AS VARCHAR)), d.doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
             ) AS BIGINT) AS cum_tokens,
             q.quota_tokens
      FROM d JOIN q USING (source)
    )
    SELECT doc_id, source, n_tokens, cum_tokens, quota_tokens,
           cum_tokens <= quota_tokens AS selected
    FROM c
    """,
    survey="agg_basic win_cumulative ext_text_stats (temperature-scaled source mixing: per-source token quotas ∝ t_s^alpha, deterministic md5-order fill — the Pile/LLaMA data-mixing step)",
)
def ext_token_budget_mix(spark, sf_dir):
    """Training-mix token budgeting (operators/corpus.token_budget_mix):
    each source's quota of a 40k-token budget is ∝ sqrt(its token mass)
    (alpha=0.5 — upweights small sources vs proportional), and documents
    fill the quota in stable md5 order. No explode (token counts are a
    projection), totals are one |sources|-row agg broadcast back, the
    only window is per-source cumulative — nothing global. Quota
    arithmetic rounds the weight to 6 decimals and multiplies under
    DECIMAL so a float ulp can't flip the floor; the oracle recomputes
    every doc's cum/quota/selection exactly."""
    from ltss_spark.operators.corpus import token_budget_mix

    return token_budget_mix(_t(spark, sf_dir, "documents"), budget_tokens=40_000)


@register(
    "ext_dedup_cdf",
    f"""
    WITH fp AS (SELECT doc_id, md5({_NORM}) AS fp FROM documents),
    seen AS (SELECT DISTINCT fp FROM fp WHERE doc_id % 2 = 0),
    batch AS (
      SELECT MIN(doc_id) AS doc_id, fp
      FROM fp WHERE doc_id % 2 = 1 GROUP BY fp
    )
    SELECT doc_id, fp FROM batch
    WHERE fp NOT IN (SELECT fp FROM seen)
    """,
    survey="ext_dedup_exact join_anti sink_append (change-feed-driven dedup: the versioned sink's insert feed is the batch source, history is never re-scanned)",
)
def ext_dedup_cdf(spark, sf_dir):
    """The integration the pieces exist for: the corpus lives in the
    manifest-versioned sink (operators/snapshot.py), a new crawl lands as
    version 2, and the dedup batch is NOT a filter over the table but the
    CHANGE FEED between the two versions — read_changes plans a scan of
    exactly the new slice's directories (O(manifest), zero comparison),
    incremental_dedup anti-joins it against the historical fingerprint
    index. At 100 TB the nightly dedup therefore reads |new crawl| + the
    KB-scale index, never the corpus. The oracle recomputes the whole
    composition relationally (even docs = history, odd = the feed)."""
    from ltss_spark.operators.corpus import incremental_dedup
    from ltss_spark.operators.dedup import normalize_text
    from ltss_spark.operators.snapshot import commit, read_changes, read_version
    from ltss_spark.scratch import scratch_dir

    base = scratch_dir("ltss_dedup_cdf")
    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    v1 = commit(d.filter(F.col("doc_id") % 2 == 0), base)
    v2 = commit(d.filter(F.col("doc_id") % 2 == 1), base)
    feed = read_changes(spark, base, v1, v2).filter(F.col("_change") == "insert")
    seen = (
        read_version(spark, base, v1)
        .select(F.md5(normalize_text(F.col("text"))).alias("fp"))
        .distinct()
    )
    return incremental_dedup(feed, seen)


@register(
    "ext_token_topk_approx",
    f"""
    WITH toks AS (
      SELECT unnest({_TOKS}) AS token FROM documents
    ),
    counts AS (
      SELECT token, COUNT(*) AS n FROM toks WHERE token <> '' GROUP BY 1
    )
    SELECT token, CAST(n AS BIGINT) AS n
    FROM counts ORDER BY n DESC, token ASC LIMIT 10
    """,
    survey="ext_text_stats topk_group agg_basic (heavy-hitter tokens via the approx_top_k sketch — bounded-memory single-pass, the 100 TB path beside the exact rank)",
)
def ext_token_topk_approx(spark, sf_dir):
    """Corpus top-10 tokens through the approx_top_k SKETCH
    (operators/text.token_topk_sketch) rather than the exact
    count+window of ext_token_topk: one pass, map-side partial sketches
    merged into one capacity-bounded state — shuffle volume is
    |partitions| x capacity, independent of vocabulary, and the tail of
    the token distribution is never materialized. Capacity (100k) here
    exceeds the fixture vocabulary, making the sketch provably exact, so
    the oracle is plain SQL; ties at the k boundary are handled by
    over-fetching 2k sketch items and re-ranking deterministically
    (count DESC, token ASC) — the same tie rule as the oracle's ORDER
    BY, which is what makes the cut hash-stable."""
    from ltss_spark.operators.text import token_topk_sketch

    return token_topk_sketch(_t(spark, sf_dir, "documents"), k=10)


_BIGRAM_PPL = f"""
    WITH toks AS (SELECT doc_id, {_TOKS} AS t FROM documents),
    bg AS (
      SELECT doc_id, t[u.i] AS w1, t[u.i + 1] AS w2
      FROM toks, UNNEST(generate_series(1, len(t) - 1)) AS u(i)
      WHERE t[u.i] <> '' AND t[u.i + 1] <> ''
    ),
    c2 AS (SELECT w1, w2, COUNT(*) AS c2 FROM bg GROUP BY 1, 2),
    c1 AS (SELECT w1, COUNT(*) AS c1 FROM bg GROUP BY 1),
    v AS (SELECT COUNT(*) AS v FROM c1),
    lp AS (
      SELECT bg.doc_id,
             round(ln((c2.c2 + 0.5) / (c1.c1 + 0.5 * v.v)), 6) AS lp
      FROM bg JOIN c2 USING (w1, w2) JOIN c1 USING (w1) CROSS JOIN v
    ),
    agg AS (
      SELECT doc_id,
             round(CAST(SUM(CAST(lp AS DECIMAL(38,6))) AS DOUBLE) / COUNT(*), 6)
               AS avg_lp
      FROM lp GROUP BY doc_id
    )"""


@register(
    "ext_perplexity_buckets",
    _BIGRAM_PPL
    + """,
    scored AS (SELECT doc_id, round(exp(-avg_lp), 4) AS ppl FROM agg),
    rn AS (
      SELECT doc_id, ppl,
             row_number() OVER (ORDER BY ppl, doc_id) AS rn,
             COUNT(*) OVER () AS n
      FROM scored
    )
    SELECT doc_id, ppl,
           CAST(floor((rn - 1) * 3.0 / n) AS INT) AS bucket,
           floor((rn - 1) * 3.0 / n) < 2 AS keep
    FROM rn
    """,
    survey="ext_text_stats fn_math win_rank agg_basic (CCNet perplexity "
    "bucketing: corpus bigram-LM score -> global rank -> equal "
    "head/middle/tail slices, keep = head+middle; the rank is "
    "distributed_row_number, no corpus-sized single-reducer window)",
)
def ext_perplexity_buckets(spark, sf_dir):
    """CCNet-style head/middle/tail perplexity filter (operators/text.
    perplexity_buckets): bigram-LM perplexity -> scale-safe global rank
    -> equal rank slices; keep = bucket < 2. Rank-based (not
    percentile-value-based) boundaries make the bucketing deterministic
    under ties and engine-portable — the oracle replays it with a plain
    window row_number."""
    from ltss_spark.operators.text import perplexity_buckets

    return perplexity_buckets(_t(spark, sf_dir, "documents"))


@register(
    "ext_dedup_minhash_verified",
    f"""
    WITH {_minhash_banded_ctes(12, 4)},
    cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM banded a
      JOIN banded b ON a.band = b.band AND a.band_sig = b.band_sig
                   AND a.doc_id < b.doc_id
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY doc_id),
    inter AS (
      SELECT c.doc_a, c.doc_b, COUNT(*) AS i
      FROM cand c
      JOIN sh x ON x.doc_id = c.doc_a
      JOIN sh y ON y.doc_id = c.doc_b AND y.shingle = x.shingle
      GROUP BY 1, 2
    )
    SELECT c.doc_a, c.doc_b,
           round(COALESCE(i.i, 0) * 1.0
                 / (sa.sz + sb.sz - COALESCE(i.i, 0)), 6) AS jaccard,
           round(COALESCE(i.i, 0) * 1.0
                 / (sa.sz + sb.sz - COALESCE(i.i, 0)), 6) >= 0.5 AS verified
    FROM cand c
    LEFT JOIN inter i ON i.doc_a = c.doc_a AND i.doc_b = c.doc_b
    JOIN sizes sa ON sa.doc_id = c.doc_a
    JOIN sizes sb ON sb.doc_id = c.doc_b
    """,
    survey="ext_dedup_near join_inner agg_basic (LSH + VERIFY: exact "
    "shingle-Jaccard over candidate pairs only — the false-positive "
    "filter every production MinHash dedup runs; each candidate joins "
    "both docs' shingle sets and intersects them per pair, never "
    "all-pairs)",
)
def ext_dedup_minhash_verified(spark, sf_dir):
    """Full production LSH pipeline (operators/dedup.
    minhash_verified_pairs): banded candidates -> exact per-pair
    shingle-set Jaccard -> verified flag at 0.5. The oracle recomputes
    candidates, every intersection, and each Jaccard exactly."""
    from ltss_spark.operators.dedup import minhash_verified_pairs

    return minhash_verified_pairs(_t(spark, sf_dir, "documents"))


def _pagerank_oracle(iters: int = 5, damping: float = 0.85) -> str:
    """Unrolled power iteration mirroring operators/graph.pagerank over
    the MinHash candidate graph: the whole loop is nano-unit BIGINT
    arithmetic (contribution = rank_n // deg, blend = (s*damp_ppm) //
    1e6) — no float rounding anywhere, so no repr-tie hazard (ADVICE
    r8); the one double is the final CAST/1e9, per-row IEEE and
    bit-equal to the Spark loop at any partitioning. The shared graph
    CTEs are MATERIALIZED: inlined, DuckDB re-expands them inside every
    unrolled rank CTE, and the query takes over a minute instead of
    about a second at sf0.001."""
    damp_ppm = round(damping * 10**6)
    base_mass = 10**9 * (10**6 - damp_ppm) // 10**6
    its = []
    prev = "r0"
    for k in range(1, iters + 1):
        its.append(f"""
    r{k} AS (
      SELECT n.node,
             CAST({base_mass} // (SELECT n FROM nn)
                  + (COALESCE(s.s, 0) * {damp_ppm}) // 1000000
                  AS BIGINT) AS rank_n
      FROM nodes n LEFT JOIN (
        SELECT e.v AS node, SUM(r.rank_n // d.deg) AS s
        FROM sym e
        JOIN {prev} r ON r.node = e.u
        JOIN deg d ON d.u = e.u
        GROUP BY e.v
      ) s ON s.node = n.node
    )""")
        prev = f"r{k}"
    return f"""
    WITH {_minhash_banded_ctes(12, 4)},
    cand AS MATERIALIZED (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM banded a
      JOIN banded b ON a.band = b.band AND a.band_sig = b.band_sig
                   AND a.doc_id < b.doc_id
    ),
    sym AS MATERIALIZED (
      SELECT doc_a AS u, doc_b AS v FROM cand
      UNION
      SELECT doc_b AS u, doc_a AS v FROM cand
    ),
    deg AS MATERIALIZED (SELECT u, COUNT(*) AS deg FROM sym GROUP BY u),
    nodes AS MATERIALIZED (SELECT u AS node FROM deg),
    nn AS MATERIALIZED (SELECT COUNT(*) AS n FROM nodes),
    r0 AS (
      SELECT node,
             CAST(1000000000 // (SELECT n FROM nn) AS BIGINT) AS rank_n
      FROM nodes
    ),{",".join(its)}
    SELECT node, CAST(rank_n AS DOUBLE) / 1e9 AS rank FROM {prev}
    """


@register(
    "ext_pagerank",
    _pagerank_oracle(5, 0.85),
    survey="ext_dedup_near join_inner agg_basic fn_math (PageRank power "
    "iteration over the near-dup graph — document-authority scoring, the "
    "best-connected-copy survivor rule; ONE shuffle per round, "
    "constant-size iterated plan via checkpoints, bit-equal to the "
    "oracle's unrolled iterations through pure nano-unit BIGINT "
    "arithmetic)",
)
def ext_pagerank(spark, sf_dir):
    """PageRank over the MinHash candidate graph (operators/graph.
    pagerank, 5 fixed rounds, damping 0.85): within a duplicate cluster
    the top-rank member is the best-connected canonical copy. Iterative
    aggregation made hash-checkable in the strongest form (ADVICE r8):
    the loop is all-integer nano-units — contribution rank_n div deg,
    blend (s*850000) div 1e6 — no float round() anywhere, so neither
    engine aggregation order nor repr-tie rounding can leak into the
    result; the oracle replays all 5 unrolled iterations and the value
    hash must agree on every node's rank."""
    from ltss_spark.operators.graph import pagerank

    return pagerank(minhash_lsh_pairs(_t(spark, sf_dir, "documents"), k=5, num_hashes=12, bands=4))


def _bpe_oracle(n_merges: int = 8) -> str:
    """Unrolled BPE training replay mirroring operators/text.
    bpe_train_merges: per iteration, the weighted adjacent-pair argmax
    (count desc, lexicographic tie-break) and the SAME greedy
    left-to-right fold (DuckDB list_reduce == Spark aggregate HOF — both
    fold the split symbol string with an accumulator whose last symbol
    is tested against lhs). Symbols are [a-z]+ by construction so the
    string surgery (LIKE '% ' || a, length arithmetic) is exact."""
    ctes, sel, last = _bpe_ctes(n_merges)
    return f"""
    WITH {ctes}
    SELECT CAST(step AS INT) AS step, lhs, rhs, pair_count
    FROM ({" UNION ALL ".join(sel)})
    """


def _bpe_ctes(n_merges: int) -> tuple[str, list[str], str]:
    """The shared unrolled-training CTE chain: (full CTE text, per-step
    merge selects, name of the final dictionary CTE). Used by both the
    train oracle (selects the merges) and the encode oracle (joins the
    final per-word segmentation back to the corpus)."""
    its, sel, prev = [], [], "s0"
    for k in range(1, n_merges + 1):
        its.append(f"""
    p{k} AS (
      SELECT t[u.i] AS a, t[u.i+1] AS b, CAST(SUM(n) AS BIGINT) AS c
      FROM (SELECT n, string_split(sym, ' ') AS t FROM {prev}) s,
           UNNEST(generate_series(1, len(t) - 1)) AS u(i)
      GROUP BY 1, 2 ORDER BY c DESC, a ASC, b ASC LIMIT 1
    ),
    s{k} AS (
      SELECT word, n,
             list_reduce(string_split(sym, ' '),
               (acc, x) -> CASE WHEN x = p{k}.b AND
                   (acc = p{k}.a OR acc LIKE '% ' || p{k}.a)
                 THEN substring(acc, 1, length(acc) - length(p{k}.a))
                      || p{k}.a || p{k}.b
                 ELSE acc || ' ' || x END) AS sym
      FROM {prev} CROSS JOIN p{k}
    )""")
        sel.append(
            f"SELECT {k} AS step, a AS lhs, b AS rhs, c AS pair_count "
            f"FROM p{k}"
        )
        prev = f"s{k}"
    ctes = f"""words AS (
      SELECT word, COUNT(*) AS cnt FROM (
        SELECT unnest({_TOKS}) AS word FROM documents
      ) WHERE regexp_matches(word, '^[a-z]+$') GROUP BY word
    ),
    s0 AS (
      SELECT word, CAST(cnt AS BIGINT) AS n,
             array_to_string(list_transform(range(1, length(word) + 1),
                                            i -> word[i]), ' ') AS sym
      FROM words
    ),{",".join(its)}"""
    return ctes, sel, prev


def _bpe_encode_oracle(n_merges: int = 8) -> str:
    """Encode replay: the same unrolled training CTEs, then every token
    occurrence joins its word's final segmentation length (non-[a-z]+
    words count as one subword — the single-token fallback) and
    aggregates per document."""
    ctes, _, last = _bpe_ctes(n_merges)
    return f"""
    WITH {ctes},
    seg AS (
      SELECT word, CAST(len(string_split(sym, ' ')) AS BIGINT) AS n_sub
      FROM {last}
    ),
    toks AS (
      SELECT doc_id, unnest({_TOKS}) AS word FROM documents
    ),
    tnz AS (SELECT doc_id, word FROM toks WHERE word <> '')
    SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
           CAST(SUM(COALESCE(seg.n_sub, 1)) AS BIGINT) AS n_subwords
    FROM tnz LEFT JOIN seg USING (word)
    GROUP BY doc_id
    """


@register(
    "ext_bpe_train",
    _bpe_oracle(8),
    survey="ext_text_stats fn_string fn_array agg_basic (distributed BPE "
    "merge training over the word-frequency dictionary — 8 iterations of "
    "weighted pair-count argmax + greedy left-to-right merge fold, the "
    "tokenizer-training step of an LLM pipeline. Per-merge cost is one "
    "explode + one hash agg over the VOCABULARY, independent of corpus "
    "size; the full merge table value-hashes against an unrolled DuckDB "
    "replay of every iteration, the pagerank discipline applied to BPE)",
)
def ext_bpe_train(spark, sf_dir):
    """Learn the first 8 BPE merges from the documents corpus
    (operators/text.bpe_train_merges): one corpus scan builds the word
    dictionary, then each iteration counts weighted adjacent symbol
    pairs and applies the argmax merge through a single string fold
    (Spark `aggregate` HOF == DuckDB `list_reduce` — greedy
    left-to-right, the overlapping-pair semantics a one-pass regex gets
    wrong). The oracle unrolls all 8 iterations as CTEs and the driver
    value-hashes the learned (step, lhs, rhs, pair_count) merge table —
    training-decision-level correctness, not just a row count. Adaptive
    (r11): below SMALL_DICT_ROWS distinct words the collected dictionary
    replays the same loop driver-side, bit-identically (the CC/pagerank
    pattern — 8 distributed argmax rounds over a tiny dictionary are
    pure stage-latency); at 100 TB vocabularies the distributed loop
    runs unchanged."""
    from ltss_spark.operators.text import bpe_train_merges

    return bpe_train_merges(_t(spark, sf_dir, "documents"), n_merges=8)


@register(
    "ext_bpe_encode",
    _bpe_encode_oracle(8),
    survey="ext_text_stats fn_string join_inner agg_basic (BPE ENCODE: "
    "tokenize the corpus against the trained segmentation — per-doc "
    "(n_tokens, n_subwords), the real token-budget measurement. Encoding "
    "is one equi-join of token occurrences against the one-row-per-word "
    "dictionary; value-hashed against the unrolled train+encode replay)",
)
def ext_bpe_encode(spark, sf_dir):
    """Per-document subword counts under the corpus-trained 8-merge BPE
    vocabulary (operators/text.bpe_encode_stats): the shared training
    fold yields each word's final segmentation, and encoding is a single
    equi-join of token occurrences against that dictionary — no
    per-document iteration, |occurrences|-linear. Non-[a-z]+ tokens
    count as one subword (the single-token fallback). The oracle replays
    training AND encoding, so the hash pins the whole tokenizer
    pipeline end-to-end. Training inherits the r11 adaptive
    small-dictionary replay (bit-identical; the encode join is the same
    plan either way, with the driver-path dictionary arriving as a
    broadcast local relation)."""
    from ltss_spark.operators.text import bpe_encode_stats

    return bpe_encode_stats(_t(spark, sf_dir, "documents"), n_merges=8)


def _lr_oracle(n_iters: int = 3, lr: float = 4.0) -> str:
    """Unrolled gradient-descent replay mirroring operators/ml.
    logreg_train: every per-row expression is written with the SAME
    association order as the Spark side (z = (w0*x0 + w1*x1) + w2*x2,
    fast-sigmoid p = 0.5 + z/(2*(1+|z|)) — rational, no transcendental),
    gradients quantize with the tie-free floor(v*1e6 + 0.5) rule and sum
    as exact integers, and each weight update is one double division —
    so the whole trace is bit-identical across engines."""
    its, sel, prev = [], [], "w0t"
    for k in range(1, n_iters + 1):
        its.append(f"""
    g{k} AS (
      SELECT
        CAST(SUM(CAST(FLOOR((y - p) * x0 * 1e6 + 0.5) AS BIGINT)) AS DOUBLE) AS g0,
        CAST(SUM(CAST(FLOOR((y - p) * x1 * 1e6 + 0.5) AS BIGINT)) AS DOUBLE) AS g1,
        CAST(SUM(CAST(FLOOR((y - p) * x2 * 1e6 + 0.5) AS BIGINT)) AS DOUBLE) AS g2,
        COUNT(*) AS n
      FROM (
        SELECT y, x0, x1, x2,
               0.5 + z / (2.0 * (1.0 + abs(z))) AS p
        FROM (
          SELECT f.*, (w.w0 * f.x0 + w.w1 * f.x1) + w.w2 * f.x2 AS z
          FROM feat f CROSS JOIN {prev} w
        )
      )
    ),
    w{k} AS (
      SELECT w.w0 + {lr} * g.g0 / (g.n * 1000000.0) AS w0,
             w.w1 + {lr} * g.g1 / (g.n * 1000000.0) AS w1,
             w.w2 + {lr} * g.g2 / (g.n * 1000000.0) AS w2
      FROM {prev} w CROSS JOIN g{k} g
    ),
    a{k} AS (
      SELECT CAST(SUM(CASE WHEN
               CAST((0.5 + z2 / (2.0 * (1.0 + abs(z2)))) >= 0.5 AS INT)
                 = CAST(y AS INT)
               THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*) AS acc
      FROM (
        SELECT f.y, (w.w0 * f.x0 + w.w1 * f.x1) + w.w2 * f.x2 AS z2
        FROM feat f CROSS JOIN w{k} w
      )
    )""")
        sel.append(
            f"SELECT {k} AS step, w0, w1, w2, "
            f"(SELECT acc FROM a{k}) AS train_acc FROM w{k}"
        )
        prev = f"w{k}"
    return f"""
    WITH feat AS (
      SELECT CASE WHEN lang = 'en' THEN 1.0 ELSE 0.0 END AS y,
             1.0 AS x0,
             length(text) / 1000.0 AS x1,
             len({_TOKS}) / 100.0 AS x2
      FROM documents
    ),
    w0t AS (SELECT 0.0 AS w0, 0.0 AS w1, 0.0 AS w2),{",".join(its)}
    SELECT CAST(step AS INT) AS step, w0, w1, w2, train_acc
    FROM ({" UNION ALL ".join(sel)})
    """


@register(
    "ext_lr_train",
    _lr_oracle(3, 4.0),
    survey="ext_text_stats agg_basic fn_math udaf (distributed classifier "
    "TRAINING: full-batch gradient descent over document features — one "
    "map-side-combined gradient aggregate per iteration, weights as three "
    "bounded driver scalars. The fast-sigmoid link is RATIONAL, so the "
    "whole trace — weights AND accuracy per iteration — is bit-exact "
    "across engines and value-hashed against the unrolled replay; the "
    "pagerank/Lloyd/BPE discipline applied to supervised training)",
)
def ext_lr_train(spark, sf_dir):
    """Train a linear quality-style classifier (is the doc English, from
    bias/chars/tokens features) by 3 full-batch gradient-descent steps
    (operators/ml.logreg_train) and return the per-iteration trace
    (step, w0, w1, w2, train_acc). Every per-row expression is pure IEEE
    arithmetic in a pinned association order, gradient sums are exact
    micro-unit LONGs, and the link is the rational fast sigmoid — no
    transcendental anywhere, so the oracle's unrolled CTE replay hash-
    matches the weights bit-for-bit. Completes the on-corpus training
    trio: k-means (unsupervised), BPE (tokenizer), classifier
    (supervised)."""
    from ltss_spark.operators.ml import logreg_train

    return logreg_train(_t(spark, sf_dir, "documents"), n_iters=3, lr=4.0)


def _lr_score_oracle(n_iters: int = 3, lr: float = 4.0) -> str:
    """Score replay: reuse the unrolled training CTEs' final weights and
    apply them to every document — the scored double is exact (pure IEEE
    in pinned order), so it hashes raw, no rounding."""
    train = _lr_oracle(n_iters, lr)
    # keep everything up to (and excluding) the final SELECT; re-target it
    body = train[: train.rindex("SELECT CAST(step AS INT)")].rstrip()
    return f"""{body},
    feat_id AS (
      SELECT doc_id,
             CASE WHEN lang = 'en' THEN 1.0 ELSE 0.0 END AS y,
             1.0 AS x0,
             length(text) / 1000.0 AS x1,
             len({_TOKS}) / 100.0 AS x2
      FROM documents
    )
    SELECT f.doc_id,
           0.5 + z / (2.0 * (1.0 + abs(z))) AS score,
           (0.5 + z / (2.0 * (1.0 + abs(z)))) >= 0.5 AS keep
    FROM (
      SELECT f.doc_id, (w.w0 * f.x0 + w.w1 * f.x1) + w.w2 * f.x2 AS z
      FROM feat_id f CROSS JOIN w{n_iters} w
    ) f
    """


@register(
    "ext_lr_score",
    _lr_score_oracle(3, 4.0),
    survey="ext_text_stats fn_math project (classifier APPLY: score every "
    "document with the trained weights — one map-only expression pass, "
    "raw exact-double scores hash-matched against the unrolled "
    "train+score replay; the fastText-style corpus quality filter)",
)
def ext_lr_score(spark, sf_dir):
    """Corpus-wide quality-filter scoring under the trained classifier
    (operators/ml.logreg_score): fit the 3-step gradient-descent model,
    then one map-only pass emits (doc_id, score, keep) for every
    document. The score is the raw double — every operation from feature
    to fast-sigmoid is IEEE-deterministic in a pinned association order,
    so the oracle's unrolled train+score replay hashes it bit-for-bit
    with no rounding anywhere."""
    from ltss_spark.operators.ml import logreg_score

    return logreg_score(_t(spark, sf_dir, "documents"), n_iters=3, lr=4.0)


def _lr_calibration_oracle(n_iters: int = 3, lr: float = 4.0) -> str:
    """Calibration replay: unrolled training CTEs, score every doc with
    the final weights, bin by floor(score*10) capped at 9, aggregate
    exact micro-unit mean score and exact-integer positive rate."""
    train = _lr_oracle(n_iters, lr)
    body = train[: train.rindex("SELECT CAST(step AS INT)")].rstrip()
    return f"""{body}
    SELECT bin, CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(FLOOR(p * 1e6 + 0.5) AS BIGINT)) AS DOUBLE)
             / (COUNT(*) * 1000000.0) AS mean_score,
           CAST(SUM(y) AS DOUBLE) / COUNT(*) AS pos_rate
    FROM (
      SELECT y,
             -- outer CAST: DuckDB's LEAST promotes to BIGINT (dtype-parity
             -- rule — Spark side is int32)
             CAST(LEAST(CAST(FLOOR(p * 10.0) AS INT), 9) AS INT) AS bin,
             p FROM (
        SELECT y, 0.5 + z / (2.0 * (1.0 + abs(z))) AS p FROM (
          SELECT f.y, (w.w0 * f.x0 + w.w1 * f.x1) + w.w2 * f.x2 AS z
          FROM feat f CROSS JOIN w{n_iters} w
        )
      )
    ) GROUP BY bin
    """


@register(
    "ext_lr_calibration",
    _lr_calibration_oracle(3, 4.0),
    survey="ext_text_stats agg_basic fn_math (classifier CALIBRATION: "
    "reliability bins over the trained scores — per-bin size, micro-unit "
    "exact mean score, exact-integer positive rate; the check a quality "
    "filter needs before anyone trusts its threshold. One aggregation "
    "over the scored corpus, value-hashed against the unrolled replay)",
)
def ext_lr_calibration(spark, sf_dir):
    """Reliability diagram for the trained quality classifier
    (operators/ml.logreg_calibration): equal-width score bins with each
    bin's size, mean predicted score (tie-free micro-unit quantization,
    one exact sum, one division), and empirical positive rate (exact
    integer ratio — sums of 0.0/1.0 doubles are exact at any order).
    Completes train (ext_lr_train) -> score (ext_lr_score) ->
    calibrate."""
    from ltss_spark.operators.ml import logreg_calibration

    return logreg_calibration(_t(spark, sf_dir, "documents"), n_iters=3, lr=4.0)


#: shared NB CTE prefix: per-(label, token) counts, per-label totals,
#: vocab size — mirrors operators/ml.nb_train exactly (add-one smoothing,
#: tie-free floor(x*1e6 + 0.5) micro-unit quantization of every ln leaf)
_NB_CTE = f"""
    nbtoks AS (
      SELECT doc_id, lang AS true_label, unnest({_TOKS}) AS token
      FROM documents
    ),
    nbnz AS (
      SELECT doc_id, true_label, token FROM nbtoks WHERE token <> ''
    ),
    nbct AS (
      SELECT true_label AS label, token, COUNT(*) AS c
      FROM nbnz GROUP BY 1, 2
    ),
    nbtot AS (
      SELECT label, CAST(SUM(c) AS BIGINT) AS t FROM nbct GROUP BY 1
    ),
    nbvoc AS (SELECT CAST(COUNT(DISTINCT token) AS BIGINT) AS v FROM nbct)
"""

#: NB scoring CTE suffix (through the per-doc argmax) — shared by
#: ext_nb_score and ext_nb_confusion
_NB_SCORE_CTE = f"""{_NB_CTE},
    nbmodel AS (
      SELECT nbct.label, nbct.token,
             CAST(FLOOR(ln(CAST(nbct.c + 1 AS DOUBLE) / (nbtot.t + nbvoc.v))
                        * 1e6 + 0.5) AS BIGINT) AS llq
      FROM nbct JOIN nbtot USING (label) CROSS JOIN nbvoc
    ),
    nbnd AS (SELECT lang AS label, COUNT(*) AS n_label FROM documents GROUP BY 1),
    nbndocs AS (SELECT COUNT(*) AS n_docs FROM documents),
    nbclasses AS (
      SELECT nbnd.label,
             CAST(FLOOR(ln(CAST(n_label AS DOUBLE) / n_docs) * 1e6 + 0.5)
                  AS BIGINT) AS prior_q,
             CAST(FLOOR(ln(1.0 / (t + v)) * 1e6 + 0.5) AS BIGINT) AS unseen_llq
      FROM nbnd JOIN nbtot ON nbnd.label = nbtot.label
      CROSS JOIN nbvoc CROSS JOIN nbndocs
    ),
    nbntoks AS (
      SELECT doc_id, true_label, COUNT(*) AS n_tokens
      FROM nbnz GROUP BY 1, 2
    ),
    nbms AS (
      SELECT d.doc_id, m.label, CAST(SUM(m.llq) AS BIGINT) AS ms,
             COUNT(*) AS mc
      FROM nbnz d JOIN nbmodel m USING (token) GROUP BY 1, 2
    ),
    nbranked AS (
      SELECT doc_id, true_label, label, score_micro,
             row_number() OVER (PARTITION BY doc_id
                                ORDER BY score_micro DESC, label ASC) AS rn
      FROM (
        SELECT n.doc_id, n.true_label, c.label,
               c.prior_q + COALESCE(nbms.ms, 0)
                 + (n.n_tokens - COALESCE(nbms.mc, 0)) * c.unseen_llq
                 AS score_micro
        FROM nbntoks n CROSS JOIN nbclasses c
        LEFT JOIN nbms ON nbms.doc_id = n.doc_id AND nbms.label = c.label
      )
    )
"""


@register(
    "ext_nb_train",
    f"""
    WITH {_NB_CTE}
    SELECT nbct.label, nbct.token, nbct.c,
           CAST(FLOOR(ln(CAST(nbct.c + 1 AS DOUBLE) / (nbtot.t + nbvoc.v))
                      * 1e6 + 0.5) AS BIGINT) AS llq
    FROM nbct JOIN nbtot USING (label) CROSS JOIN nbvoc
    """,
    survey="ext_text_stats agg_basic fn_math (multinomial Naive Bayes "
    "TRAINING: one (label, token) hash aggregate builds the whole model — "
    "the counting complement to ext_lr_train's gradient descent; add-one "
    "smoothed log-likelihoods quantized to tie-free integer micro-units "
    "so downstream scores are exact BIGINT sums)",
)
def ext_nb_train(spark, sf_dir):
    """Multinomial Naive Bayes token model over the corpus
    (operators/ml.nb_train): (label, token, count, micro-unit
    log-likelihood). One token explode, ONE O(|tokens|) shuffle (the
    (label, token) hash aggregate); per-label totals and the vocab size
    derive from the count table and join back as broadcasts. The model
    is O(vocab x classes) — bounded by vocabulary, not corpus size. The
    ln leaf quantizes with the tie-free floor(x*1e6 + 0.5) rule, the
    same transcendental-determinism discipline as the unigram/bigram
    LMs."""
    from ltss_spark.operators.ml import nb_train

    return nb_train(_t(spark, sf_dir, "documents"))


@register(
    "ext_nb_score",
    f"""
    WITH {_NB_SCORE_CTE}
    SELECT doc_id, label AS pred, score_micro
    FROM nbranked WHERE rn = 1
    """,
    survey="ext_text_stats agg_basic fn_math win_rank (Naive Bayes APPLY: "
    "classify every document against every class — broadcast model match, "
    "one (doc, class) aggregate, one per-doc argmax window; the unseen-"
    "token mass is arithmetic, not a join, so scores stay exact BIGINT "
    "sums end to end)",
)
def ext_nb_score(spark, sf_dir):
    """Corpus-wide Naive Bayes classification (operators/ml.nb_score):
    (doc_id, predicted label, exact integer micro-unit log-score). The
    score of doc d under class k is prior_q(k) + Σ matched llq + (unseen
    token count) x unseen_llq(k) — the unseen term is computed
    arithmetically from the per-doc token count, so the plan is one
    broadcast token->model match (fan-out <= |classes|), one
    (doc, class) hash aggregate, and one per-doc row_number window with
    ascending-label tie-break. Every leaf is micro-unit quantized; the
    argmax is over exact BIGINTs — fully order-free across engines."""
    from ltss_spark.operators.ml import nb_score

    return nb_score(_t(spark, sf_dir, "documents"))


@register(
    "ext_nb_confusion",
    f"""
    WITH {_NB_SCORE_CTE}
    SELECT true_label, label AS pred, COUNT(*) AS n
    FROM nbranked WHERE rn = 1 GROUP BY 1, 2
    """,
    survey="ext_text_stats agg_basic (Naive Bayes EVALUATION: the training-"
    "set confusion matrix — true label rides through the scoring pass, so "
    "the matrix is one classes-squared-bounded aggregate over the per-doc "
    "argmax; the check a pipeline runs before trusting a language filter)",
)
def ext_nb_confusion(spark, sf_dir):
    """Confusion matrix of the NB classifier on its training corpus
    (operators/ml.nb_confusion): (true_label, pred, n). The true label
    is carried through the scoring pipeline (no join back to the
    corpus); the matrix aggregate is bounded by |classes|^2 rows.
    Completes the second train/apply/evaluate loop alongside
    ext_lr_train/_score/_calibration."""
    from ltss_spark.operators.ml import nb_confusion

    return nb_confusion(_t(spark, sf_dir, "documents"))


@register(
    "ext_pmi",
    f"""
    WITH ptoks AS (SELECT {_TOKS} AS t FROM documents),
    pocc AS (SELECT unnest(t) AS token FROM ptoks),
    ponz AS (SELECT token FROM pocc WHERE token <> ''),
    pc1 AS (SELECT token, COUNT(*) AS c FROM ponz GROUP BY 1),
    pn AS (SELECT CAST(SUM(c) AS BIGINT) AS n FROM pc1),
    pbg AS (
      SELECT t[u.i] AS w1, t[u.i + 1] AS w2
      FROM ptoks, UNNEST(generate_series(1, len(t) - 1)) AS u(i)
      WHERE t[u.i] <> '' AND t[u.i + 1] <> ''
    ),
    pc2 AS (
      SELECT w1, w2, COUNT(*) AS c2 FROM pbg GROUP BY 1, 2
      HAVING COUNT(*) >= 5
    )
    SELECT pc2.w1, pc2.w2, pc2.c2,
           (pc2.c2 * 1000000 // cx.c) * pn.n // cy.c AS pmi_micro
    FROM pc2
    JOIN pc1 cx ON pc2.w1 = cx.token
    JOIN pc1 cy ON pc2.w2 = cy.token
    CROSS JOIN pn
    ORDER BY pmi_micro DESC, w1 ASC, w2 ASC LIMIT 100
    """,
    survey="ext_text_stats agg_basic topk_group fn_math (PMI collocation "
    "mining: top multiword expressions by pointwise mutual information — "
    "ln is monotone so the ranking needs only the integer ratio "
    "c_xy*N/(c_x*c_y), computed as two pinned BIGINT floor-divisions: no "
    "ln, no doubles, no rounding hazard; two hash aggregates, two "
    "vocabulary broadcasts, one top-k heap)",
)
def ext_pmi(spark, sf_dir):
    """Top-100 bigram collocations by PMI (operators/text.
    pmi_collocations): the corpus-analytics pass that surfaces multiword
    expressions and boilerplate phrases for tokenizer-vocab and template
    decisions. The score is ((c_xy*10^6) div c_x * N) div c_y — pure
    BIGINT arithmetic in a pinned order (PMI's ln is monotone, so the
    ratio ranks identically), with ties broken on (w1, w2) ascending.
    Plan: two hash aggregates + min_count pruning BEFORE the two
    broadcast vocabulary joins + TakeOrderedAndProject (per-partition
    heaps, no full sort)."""
    from ltss_spark.operators.text import pmi_collocations

    return pmi_collocations(_t(spark, sf_dir, "documents"))


#: shared k=3 shingle CTE for the set-similarity entry (the k=5 cousin is
#: _SHINGLES_CTE) — mirrors ltss_spark.operators.dedup.shingles at k=3
_SHINGLES3_CTE = f"""
    toks3 AS (SELECT doc_id, {_TOKS} AS t FROM documents),
    sh3 AS (
      SELECT DISTINCT doc_id, array_to_string(t[u.i:u.i + 2], ' ') AS shingle
      FROM toks3, UNNEST(generate_series(1, greatest(len(t) - 2, 1))) AS u(i)
      WHERE len(t[u.i:u.i + 2]) = 3
    )
"""


@register(
    "ext_setsim_join",
    f"""
    WITH {_SHINGLES3_CTE},
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh3 GROUP BY doc_id),
    inter AS (
      SELECT a.doc_id AS da, b.doc_id AS db, COUNT(*) AS c
      FROM sh3 a JOIN sh3 b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT da AS doc_a, db AS doc_b, CAST(c AS BIGINT) AS n_common,
           round(c / (sa.n + sb.n - c), 6) AS jaccard
    FROM inter
    JOIN sizes sa ON sa.doc_id = da
    JOIN sizes sb ON sb.doc_id = db
    WHERE c * 10 >= 6 * (sa.n + sb.n - c)
    """,
    survey="ext_dedup_near (EXACT set-similarity self-join, Jaccard >= 0.6 "
    "over 3-word shingle sets, via AllPairs/PPJoin PREFIX FILTERING — the "
    "lossless candidate scheme: sets ordered by one global (df ASC, "
    "shingle ASC) order, only the first n-ceil(t*n)+1 rarest elements "
    "indexed, plus the min/max length filter; provably a candidate "
    "superset of every qualifying pair, so the oracle is the full "
    "UNCAPPED brute-force inverted-index answer — unlike MinHash "
    "(probabilistic misses) or the df-capped ngram entry (truncated "
    "universe), this one must not lose a single pair)",
)
def ext_setsim_join(spark, sf_dir):
    """Exact Jaccard>=0.6 pairs over 3-word shingle sets
    (operators/dedup.setsim_join_pairs): AllPairs prefix filtering —
    candidates from an equi-join on each set's RAREST
    ``n - ceil(0.6 n) + 1`` shingles under the global (df, shingle)
    order, integer-exact threshold gates (10*common >= 6*union), exact
    verification via array_intersect on the per-doc arrays. The df
    attach rides hot_key_guarded_join (the df aggregate doubles as the
    skew pre-flight). Candidate cost is sum(df^2) over PREFIX (rare)
    shingles only — the stop-shingle buckets a naive inverted index
    drowns in never enter the join, with zero approximation."""
    from ltss_spark.operators.dedup import setsim_join_pairs

    return setsim_join_pairs(
        _t(spark, sf_dir, "documents"), k=3, threshold_tenths=6
    )


@register(
    "ext_dedup_suffix",
    f"""
    WITH sst AS (SELECT doc_id, {_TOKS} AS t FROM documents),
    ssp AS (
      SELECT doc_id, array_to_string(t[i.i : i.i + 7], ' ') AS span
      FROM sst, UNNEST(generate_series(1, len(t) - 7)) AS i(i)
    )
    SELECT span, CAST(COUNT(*) AS BIGINT) AS n_occ,
           CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs
    FROM ssp GROUP BY span HAVING COUNT(*) >= 2
    """,
    survey="join_inner win_frame agg_basic (suffix-array-grade exact "
    "duplicated-substring inventory — prefix-doubling suffix groups: "
    "positions carry (min doc_id, pos) group ids, never substrings; each "
    "of ceil(log2 L) rounds is one co-partitioned positional self-join + "
    "one window-min exchange of 2 ids per position, vs O(L) characters "
    "per position for direct L-gram grouping; the oracle IS that direct "
    "grouping, so the doubling must reproduce it span-for-span)",
)
def ext_dedup_suffix(spark, sf_dir):
    """Every exact 8-token span duplicated anywhere in the corpus
    (operators/dedup.suffix_span_groups): the Lee et al. 2022 repeated-
    substring inventory — the boilerplate a model would memorize —
    computed by distributed prefix doubling (3 rounds for width 8)
    rather than shuffling the spans themselves. duplicate_span_stats
    audits which DOCS carry duplicates; this names the SPANS, with
    occurrence and distinct-doc counts; only the duplicated groups'
    representatives are ever rendered back to text."""
    from ltss_spark.operators.dedup import suffix_span_groups

    return suffix_span_groups(
        _t(spark, sf_dir, "documents"), span_tokens=8, min_occ=2
    )


def _co_edges_sql(li: str, e: str) -> str:
    """Shared co-purchase edge CTEs (parts co-ordered in one order) for the
    graph-family oracles — ONE definition so the three entries that ride
    this graph (triangles / BFS / LPA) can never desynchronize from their
    oracles; alias names are parameterized so each entry keeps its
    historical CTE names."""
    return f"""{li} AS (SELECT l_orderkey, l_partkey FROM lineitem),
    {e} AS (
      SELECT DISTINCT a.l_partkey AS a, b.l_partkey AS b
      FROM {li} a JOIN {li} b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    )"""


def _co_purchase_edges(spark, sf_dir):
    """DataFrame side of :func:`_co_edges_sql`: parts adjacent when they
    appear in the same order — lineitem self-equi-join on l_orderkey
    (fan-out bounded by order size), canonicalized a < b."""
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    a, b = li.alias("a"), li.alias("b")
    return (
        a.join(b, "l_orderkey")
        .filter(F.col("a.l_partkey") < F.col("b.l_partkey"))
        .select(
            F.col("a.l_partkey").alias("a"), F.col("b.l_partkey").alias("b")
        )
    )


@register(
    "ext_triangle_count",
    f"""
    WITH {_co_edges_sql("li", "e")},
    symn AS (SELECT a AS node FROM e UNION ALL SELECT b FROM e),
    deg AS (SELECT node, COUNT(*) AS degree FROM symn GROUP BY node),
    tri AS (
      SELECT e1.a AS x, e1.b AS y, e2.b AS z
      FROM e e1
      JOIN e e2 ON e2.a = e1.b
      JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b
    ),
    pt AS (
      SELECT x AS node FROM tri
      UNION ALL SELECT y FROM tri
      UNION ALL SELECT z FROM tri
    ),
    tc AS (SELECT node, COUNT(*) AS n_triangles FROM pt GROUP BY node)
    SELECT d.node, d.degree,
           CAST(COALESCE(t.n_triangles, 0) AS BIGINT) AS n_triangles
    FROM deg d LEFT JOIN tc t USING (node)
    """,
    survey="join_inner agg_basic join_semi (degree-oriented triangle "
    "counting over the co-purchase graph — parts co-ordered in one order; "
    "Suri-Vassilvitskii orientation: every triangle counted once at its "
    "minimum-(degree,id) apex, wedge work sum(d_out^2) = O(m^1.5) "
    "regardless of hub skew; the oracle is the brute-force canonical "
    "x<y<z triple join, so orientation must not change a single count)",
)
def ext_triangle_count(spark, sf_dir):
    """Per-part triangle counts on the co-purchase graph
    (operators/graph.triangle_counts over :func:`_co_purchase_edges` —
    parts adjacent when they appear in the same order): triangles =
    cliques of 3 mutually co-ordered parts, the affinity-group signal.
    Degree orientation kills the hub-wedge blowup ("the curse of the
    last reducer"): the wedge join fires only at each edge's LOW-degree
    end, closing edges resolve via one LEFT SEMI equi-join. Output
    (node, degree, n_triangles) is all-BIGINT — hash-exact with zero
    rounding rules."""
    from ltss_spark.operators.graph import triangle_counts

    return triangle_counts(_co_purchase_edges(spark, sf_dir))


def _bfs_oracle(max_hops: int, seed_mod: int) -> str:
    """Unrolled min-distance relaxation mirroring operators/graph.
    bfs_hops: d_{h} = per-node MIN over d_{h-1} ∪ (neighbors of d_{h-1}
    at dist+1). Relaxation min equals frontier BFS (a node first reached
    in round h has true distance h), so the frontier/anti-join plan must
    reproduce it node-for-node."""
    its, prev = [], "d0"
    for h in range(1, max_hops + 1):
        its.append(f"""
    d{h} AS (
      SELECT node, MIN(dist) AS dist FROM (
        SELECT node, dist FROM {prev}
        UNION ALL
        SELECT s.v AS node, p.dist + 1 AS dist
        FROM {prev} p JOIN bsym s ON s.u = p.node
      ) GROUP BY node
    )""")
        prev = f"d{h}"
    return f"""
    WITH {_co_edges_sql("bli", "be")},
    bsym AS (SELECT a AS u, b AS v FROM be UNION SELECT b AS u, a AS v FROM be),
    d0 AS (
      SELECT DISTINCT l_partkey AS node, 0 AS dist FROM bli
      WHERE l_partkey % {seed_mod} = 0
    ),{",".join(its)}
    SELECT node, CAST(dist AS INT) AS dist FROM {prev}
    """


@register(
    "ext_graph_bfs",
    _bfs_oracle(3, 97),
    survey="join_inner join_anti agg_basic (multi-source bounded BFS over "
    "the co-purchase graph — blast-radius / recall-impact reachability; "
    "level-synchronous frontier expansion, per hop ONE frontier-edge "
    "equi-join + ONE anti-join against the visited set so work tracks the "
    "FRONTIER not the graph; all-integer, oracle is the unrolled "
    "min-relaxation which frontier BFS must match node-for-node)",
)
def ext_graph_bfs(spark, sf_dir):
    """Hop distances from a seed part set over the co-purchase graph
    (operators/graph.bfs_hops, max 3 hops): "which parts are co-ordered
    within k links of a recalled part" — the frontier-expansion shape
    the graph family lacked next to propagation (ext_pagerank),
    contraction (ext_dedup_cluster) and closure (ext_triangle_count).
    Seeds = parts with partkey % 97 = 0 (an external watchlist). Per
    hop: frontier⋈edges on the source key, then LEFT ANTI against
    visited — interior nodes never re-expand, so a bounded-hop query on
    a 100 TB graph touches only the frontier's partitions. Adaptive
    small-graph short-circuit replays the same level-synchronous
    expansion driver-side under the SMALL_GRAPH_EDGES bound."""
    from ltss_spark.operators.graph import bfs_hops

    seeds = (
        _t(spark, sf_dir, "lineitem")
        .filter(F.col("l_partkey") % 97 == 0)
        .select(F.col("l_partkey").alias("node"))
    )
    return bfs_hops(_co_purchase_edges(spark, sf_dir), seeds, max_hops=3)


def _lpa_oracle(max_iter: int) -> str:
    """Unrolled synchronous label propagation mirroring operators/graph.
    label_propagation: l_h(v) = the label with the MAX count among v's
    neighbors' l_{h-1} labels, ties to the MIN label (ROW_NUMBER over
    (count DESC, label ASC)). The engine's exact fixed-point early stop
    is invisible to a fixed-round oracle — a fixed point stays fixed."""
    its, prev = [], "l0"
    for h in range(1, max_iter + 1):
        its.append(f"""
    l{h} AS (
      SELECT node, label FROM (
        SELECT s.v AS node, p.label AS label,
               ROW_NUMBER() OVER (
                 PARTITION BY s.v ORDER BY COUNT(*) DESC, p.label ASC
               ) AS rn
        FROM {prev} p JOIN lsym s ON s.u = p.node
        GROUP BY s.v, p.label
      ) WHERE rn = 1
    )""")
        prev = f"l{h}"
    return f"""
    WITH {_co_edges_sql("lli", "le")},
    lsym AS (SELECT a AS u, b AS v FROM le UNION SELECT b AS u, a AS v FROM le),
    l0 AS (SELECT DISTINCT u AS node, u AS label FROM lsym),{",".join(its)}
    SELECT node, CAST(label AS BIGINT) AS label FROM {prev}
    """


@register(
    "ext_graph_lpa",
    _lpa_oracle(4),
    survey="join_inner agg_basic agg_minmax_by (synchronous label-"
    "propagation communities over the co-purchase graph — the soft-"
    "clustering complement to ext_dedup_cluster's connected components: "
    "dense cliques keep separate labels across sparse bridges; "
    "deterministic by construction — synchronous update, (max count, min "
    "label) tie-break, fixed round budget, exact fixed-point early stop — "
    "so it is hash-exact against the unrolled per-round oracle)",
)
def ext_graph_lpa(spark, sf_dir):
    """Community labels over the co-purchase graph (operators/graph.
    label_propagation, 4 synchronous rounds): "which co-purchase clique
    does this part belong to" — unlike connected components (which fuse
    everything reachable, so one chained co-order bridges two cliques),
    LPA lets densely-linked groups outvote sparse bridges. Per round:
    ONE label-frame equi-join along the symmetrized edges, a
    (node, label) count aggregate, and a (node) arg-min aggregate via
    min(struct(-cnt, label)) — all map-side combinable, no unbounded
    window; labels checkpoint per round so the iterated plan stays
    constant-size. Adaptive small-graph short-circuit replays the same
    recurrence driver-side under SMALL_GRAPH_EDGES."""
    from ltss_spark.operators.graph import label_propagation

    return label_propagation(_co_purchase_edges(spark, sf_dir), max_iter=4)


@register(
    "ext_corpus_drift",
    f"""
    WITH dtoks AS (SELECT doc_id, {_TOKS} AS t FROM documents),
    docc AS (SELECT doc_id, unnest(t) AS token FROM dtoks),
    dnz AS (SELECT doc_id, token FROM docc WHERE token <> ''),
    dc1 AS (SELECT token, COUNT(*) AS c_train FROM dnz WHERE doc_id % 10 != 0 GROUP BY 1),
    dc2 AS (SELECT token, COUNT(*) AS c_eval FROM dnz WHERE doc_id % 10 = 0 GROUP BY 1),
    dn1 AS (SELECT COALESCE(SUM(c_train), 0) AS n1 FROM dc1),
    dn2 AS (SELECT COALESCE(SUM(c_eval), 0) AS n2 FROM dc2),
    dj AS (
      SELECT COALESCE(dc1.token, dc2.token) AS token,
             CAST(COALESCE(c_train, 0) AS BIGINT) AS c_train,
             CAST(COALESCE(c_eval, 0) AS BIGINT) AS c_eval
      FROM dc1 FULL JOIN dc2 ON dc1.token = dc2.token
    ),
    dm AS (
      SELECT token, c_train, c_eval,
             CAST(CASE WHEN n1 > 0 THEN (c_train * 1000000) // n1 ELSE 0 END AS BIGINT) AS p_micro,
             CAST(CASE WHEN n2 > 0 THEN (c_eval * 1000000) // n2 ELSE 0 END AS BIGINT) AS q_micro
      FROM dj CROSS JOIN dn1 CROSS JOIN dn2
    )
    SELECT token, c_train, c_eval, p_micro, q_micro,
           abs(p_micro - q_micro) AS drift_micro,
           CAST(CASE WHEN p_micro + q_micro > 0
                THEN ((p_micro - q_micro) * (p_micro - q_micro)) // (p_micro + q_micro)
                ELSE 0 END AS BIGINT) AS chi2_micro
    FROM dm
    ORDER BY drift_micro DESC, token ASC LIMIT 100
    """,
    survey="ext_text_stats agg_basic set_union topk_group fn_math "
    "(train/eval token-distribution drift: per-token total-variation and "
    "chi-square contributions of the micro-quantized frequencies — "
    "RATIONAL divergences only, BIGINT floor-divisions in one pinned "
    "order, no ln() whose last ulp could flip a rank cross-engine; both "
    "splits union'd under a 0/1 tag so ONE conditional-sum aggregate "
    "yields both counts per token — one corpus scan, one token exchange, "
    "no vocab join)",
)
def ext_corpus_drift(spark, sf_dir):
    """Which tokens carry the distribution gap between the train split
    (doc_id % 10 != 0) and the eval split (doc_id % 10 = 0) — the
    mixture-validation drift triage run before training
    (operators/corpus.corpus_drift): top-100 tokens by total-variation
    contribution |p_micro - q_micro| with the chi-square contribution
    alongside. The splits ride one 0/1-tagged union into a single
    conditional-sum hash aggregate (a token absent from one split gets
    its 0 there — no full-outer vocab join exists; zipfian hot tokens
    are absorbed map-side before the one exchange), the checkpointed
    vocab frame feeds its own 1-row broadcast totals, then
    TakeOrderedAndProject."""
    from ltss_spark.operators.corpus import corpus_drift

    d = _t(spark, sf_dir, "documents")
    return corpus_drift(
        d.filter(F.col("doc_id") % 10 != 0), d.filter(F.col("doc_id") % 10 == 0)
    )


@register(
    "ext_skipgram",
    f"""
    WITH sgt AS (SELECT list_filter({_TOKS}, x -> x <> '') AS t FROM documents),
    sgp AS (
      SELECT t[u.i] AS w1, t[u.i + d.d] AS w2, 4 - d.d AS wt
      FROM sgt,
           UNNEST(generate_series(1, len(t) - 1)) AS u(i)
           CROSS JOIN (VALUES (1), (2), (3)) AS d(d)
      WHERE u.i + d.d <= len(t)
    )
    SELECT w1, w2, CAST(SUM(wt) AS BIGINT) AS weight
    FROM sgp GROUP BY 1, 2 HAVING SUM(wt) >= 5
    ORDER BY weight DESC, w1 ASC, w2 ASC LIMIT 100
    """,
    survey="ext_text_stats fn_array agg_basic topk_group (word2vec/GloVe "
    "windowed skip-gram co-occurrence, window 3, linear distance decay "
    "4-d — pair generation as a PER-ROW nested-transform array expression "
    "over the empty-compacted token array (no positional self-join), ONE "
    "explode into ONE map-side-combined hash aggregate, min-weight floor, "
    "top-k heap; integer weights, ties on (w1, w2))",
)
def ext_skipgram(spark, sf_dir):
    """Top-100 windowed co-occurrence pairs (operators/text.
    skipgram_counts, window 3, weight = 4 - distance): the embedding
    -training co-occurrence matrix and the wider-context collocation
    surface next to ext_pmi's adjacent bigrams. Exactly ONE shuffle (the
    (w1, w2) aggregate key) at any corpus size — the quadratic-ish pair
    stream (3 per token) is collapsed map-side before it moves."""
    from ltss_spark.operators.text import skipgram_counts

    return skipgram_counts(_t(spark, sf_dir, "documents"))
