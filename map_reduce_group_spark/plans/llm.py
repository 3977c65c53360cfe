"""North-star LLM-data-pipeline queries (BASELINE.json): text analysis,
dedup (exact / n-gram Jaccard / MinHash-LSH / SimHash), similarity search
(brute-force + IVF), over the ``documents`` and ``embeddings`` fixtures.

Oracle policy: everything whose semantics are ANSI-SQL-expressible carries
a DuckDB oracle built from the SAME formulas (identical tokenizer regex,
identical rounding). The hash-based operators (MinHash / SimHash / ANN
buckets) are portable — md5-derived ``portable_hash60`` signatures plus
integer-only downstream math (affine Carter–Wegman expansion, fixed-point
projections) — so their DuckDB oracles replay signatures, buckets,
candidates, and verification bit-for-bit (r4 recontracts). Only
engine-private candidate pools (approx sketches, seeded sampling,
batch-local heavy-hitter pools) stay rows-only, each with a property-test
backstop.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.functions import col

from map_reduce_group_spark.catalog import load_table
from map_reduce_group_spark.functions.numeric import fp_ratio, fp_ratio_dec38
from map_reduce_group_spark.operators import dedup, importance, similarity, text
from map_reduce_group_spark.operators.text import (
    LANG_MARKERS,
    bpe_ish_token_count,
    lang_scores,
    predicted_lang,
    token_count,
    tokens,
)
from map_reduce_group_spark.plans.registry import register
from map_reduce_group_spark.scope import fresh_dir

_TOKS_SQL = "list_filter(string_split_regex(lower(text), '[^a-z]+'), x -> x <> '')"


def _inject_pii(doc_id, text_col):
    """Deterministic doc_id-derived PII injection (Spark twin of
    _PII_INJECT_SQL): the fixture corpus carries no PII, so queries that
    exercise the scrubber plant it into fixed doc_id-modulus slices first
    (scale-stable fractions — CLAUDE.md rule 7)."""
    return F.concat(
        text_col,
        F.when(
            doc_id % 3 == 0,
            F.concat(F.lit(" contact user"), doc_id.cast("string"), F.lit("@example.com")),
        ).otherwise(F.lit("")),
        F.when(
            doc_id % 5 == 0,
            F.concat(F.lit(" call 555-"), F.lpad((doc_id % 10000).cast("string"), 4, "0")),
        ).otherwise(F.lit("")),
        F.when(
            doc_id % 7 == 0,
            F.concat(
                F.lit(" host 10.0."),
                (doc_id % 256).cast("string"),
                F.lit("."),
                ((doc_id * 7) % 256).cast("string"),
            ),
        ).otherwise(F.lit("")),
    )


_PII_INJECT_SQL = """
    text
    || CASE WHEN doc_id % 3 = 0
            THEN ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com'
            ELSE '' END
    || CASE WHEN doc_id % 5 = 0
            THEN ' call 555-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
            ELSE '' END
    || CASE WHEN doc_id % 7 = 0
            THEN ' host 10.0.' || CAST(doc_id % 256 AS VARCHAR)
                 || '.' || CAST((doc_id * 7) % 256 AS VARCHAR)
            ELSE '' END
"""



@register(
    "doc_token_stats",
    oracle=f"""
    SELECT doc_id,
           len({_TOKS_SQL})                 AS n_tokens,
           len(list_distinct({_TOKS_SQL}))  AS n_unique,
           CASE WHEN len({_TOKS_SQL}) = 0 THEN 0.0
                ELSE CAST((CAST(list_sum(list_transform({_TOKS_SQL},
                               x -> CAST(length(x) AS BIGINT))) AS BIGINT) * 10000)
                          // len({_TOKS_SQL}) AS DOUBLE) / 10000.0
           END AS avg_token_len,
           len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\\s]')) AS n_bpe_ish
    FROM documents
    """,
)
def doc_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting (whitespace + BPE-ish regex) — all JVM built-ins.
    avg_token_len is displayed in 1/10^4 integer fixed point (rule 1)."""
    d = load_table(spark, sf_dir, "documents")
    toks = tokens("text")
    # Σ token lengths == length of the separator-less concatenation — pure
    # codegen, no interpreted aggregate lambda (CLAUDE.md rule 2)
    return d.select(
        "doc_id",
        token_count("text").cast("long").alias("n_tokens"),
        F.size(F.array_distinct(toks)).cast("long").alias("n_unique"),
        F.length(F.array_join(toks, "")).alias("_total_len"),
        F.size(toks).alias("_n"),
        bpe_ish_token_count("text").cast("long").alias("n_bpe_ish"),
    ).select(
        "doc_id",
        "n_tokens",
        "n_unique",
        F.when(col("_n") == 0, F.lit(0.0))
        .otherwise(fp_ratio("_total_len", "_n", 10_000))
        .alias("avg_token_len"),
        "n_bpe_ish",
    )


@register(
    "text_tokenizer_fertility",
    oracle=f"""
    WITH t AS (
        SELECT lang, CAST(length(text) AS BIGINT) AS nch,
               CAST(len(regexp_extract_all(lower(text),
                    '[a-z]+|[0-9]+|[^a-z0-9\\s]')) AS BIGINT) AS nbpe,
               CAST(len({_TOKS_SQL}) AS BIGINT) AS nw
        FROM documents
    )
    SELECT lang,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(nch) AS BIGINT) AS n_chars,
           CAST(sum(nbpe) AS BIGINT) AS n_bpe_tokens,
           CAST(sum(nw) AS BIGINT) AS n_word_tokens,
           CAST((sum(nch) * 100) // greatest(sum(nbpe), 1) AS BIGINT)
               AS chars_per_bpe_fp,
           CAST((sum(nbpe) * 100) // greatest(sum(nw), 1) AS BIGINT)
               AS bpe_per_word_fp
    FROM t GROUP BY lang
    """,
)
def text_tokenizer_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer fertility audit by language — the multilingual corpus
    metric (chars per BPE-ish token; BPE tokens per whitespace word) that
    decides whether a tokenizer under- or over-segments a language's
    share of the training mix (high fertility = more tokens per char =
    that language pays more sequence length per byte). Integer 1/100
    fixed point over exact per-language sums (rule 1; int64 headroom:
    Σchars·100 at a 10^14-char / 100 TB corpus is 10^16). Scale shape:
    one map-side projection (regexp counts, no token arrays materialize)
    and ONE partial-agg shuffle keyed by lang — ~n_langs output rows at
    any corpus size (rule 7: pure corpus-relative rates)."""
    d = load_table(spark, sf_dir, "documents")
    t = d.select(
        "lang",
        F.length("text").cast("long").alias("nch"),
        bpe_ish_token_count("text").cast("long").alias("nbpe"),
        token_count("text").cast("long").alias("nw"),
    )
    return (
        t.groupBy("lang")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("nch").cast("long").alias("n_chars"),
            F.sum("nbpe").cast("long").alias("n_bpe_tokens"),
            F.sum("nw").cast("long").alias("n_word_tokens"),
        )
        .select(
            "lang",
            "n_docs",
            "n_chars",
            "n_bpe_tokens",
            "n_word_tokens",
            F.expr("(n_chars * 100) div greatest(n_bpe_tokens, 1)")
            .cast("long").alias("chars_per_bpe_fp"),
            F.expr("(n_bpe_tokens * 100) div greatest(n_word_tokens, 1)")
            .cast("long").alias("bpe_per_word_fp"),
        )
    )


def _occ_sql(marker: str) -> str:
    pad = "concat(' ', lower(text), ' ')"
    return (
        f"CAST((length({pad}) - length(replace({pad}, '{marker}', ''))) / {len(marker)} AS BIGINT)"
    )


@register(
    "doc_lang_id",
    oracle=f"""
    WITH scored AS (
        SELECT doc_id, lang,
               {_occ_sql(' the ')} AS c_en,
               {_occ_sql(' le ')}  AS c_fr,
               {_occ_sql(' el ')}  AS c_es,
               {_occ_sql(' der ')} AS c_de
        FROM documents
    )
    SELECT doc_id, lang, c_en, c_fr, c_es, c_de,
           CASE
             WHEN c_en > 0 AND c_en = greatest(c_en, c_fr, c_es, c_de) THEN 'en'
             WHEN c_fr > 0 AND c_fr = greatest(c_en, c_fr, c_es, c_de) THEN 'fr'
             WHEN c_es > 0 AND c_es = greatest(c_en, c_fr, c_es, c_de) THEN 'es'
             WHEN c_de > 0 AND c_de = greatest(c_en, c_fr, c_es, c_de) THEN 'de'
             ELSE 'und'
           END AS pred_lang
    FROM scored
    """,
)
def doc_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language ID by marker-stopword counting (n-gram heuristic; fixed
    precedence on ties). Pure string built-ins — codegen'd."""
    d = load_table(spark, sf_dir, "documents")
    scores = lang_scores(col("text"))
    return d.select(
        "doc_id",
        "lang",
        *[scores[lang].alias(f"c_{lang}") for lang in LANG_MARKERS],
        predicted_lang(col("text")).alias("pred_lang"),
    )


@register(
    "doc_quality_score",
    oracle=f"""
    WITH t AS (
        SELECT doc_id, n_chars,
               len({_TOKS_SQL}) AS n_words,
               {_occ_sql(' the ')} AS c_the
        FROM documents
    )
    SELECT doc_id, n_chars, n_words,
           (CAST((c_the * 1000000) // greatest(n_words, 1) AS DOUBLE)
            / 1000000.0) AS stopword_ratio,
           (CAST((least(n_words, 50)
                  * (greatest(n_words, 1) - least(c_the, greatest(n_words, 1)))
                  * 1000000)
                 // (50 * greatest(n_words, 1)) AS DOUBLE)
            / 1000000.0) AS quality_score
    FROM t
    """,
)
def doc_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality scoring from length + stopword-density signals (the classic
    pretraining-corpus heuristics, all SQL-expressible). Both display
    ratios are 1/10^6 integer fixed point (rule 1): the composite score
    least(1, n/50)·(1 − least(1, c/g)) is the exact rational
    least(n,50)·(g − least(c,g)) / (50·g), g = greatest(n,1) — numerator
    ≤ 50·doc_len·10^6, bounded by document length, no int64 risk."""
    from map_reduce_group_spark.operators.text import occurrences

    d = load_table(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        "n_chars",
        token_count("text").cast("long").alias("n_words"),
        occurrences(col("text"), " the ").alias("_c_the"),
    ).select(
        "doc_id",
        "n_chars",
        "n_words",
        fp_ratio("_c_the", "greatest(n_words, 1)").alias("stopword_ratio"),
        fp_ratio(
            "least(n_words, 50)"
            " * (greatest(n_words, 1) - least(_c_the, greatest(n_words, 1)))",
            "50 * greatest(n_words, 1)",
        ).alias("quality_score"),
    )


@register(
    "dedup_exact_fingerprint",
    oracle="""
    SELECT md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS fingerprint,
           min(doc_id) AS rep_id,
           count(*)    AS n_copies
    FROM documents
    GROUP BY 1
    """,
)
def dedup_exact_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup via content fingerprint (md5 of normalized text): group
    by 16-byte digest, keep min(doc_id) as representative. At 100 TB the
    shuffle carries (digest, id) only — never the documents."""
    d = load_table(spark, sf_dir, "documents")
    return dedup.exact_dedup_groups(d, "doc_id", "text").select(
        "fingerprint", "rep_id", "n_copies"
    )


_SHINGLES_SQL = f"""
        list_distinct(list_transform(
            range(1, greatest(len({_TOKS_SQL}) - 1, 1)),
            i -> array_to_string(list_slice({_TOKS_SQL}, i, i + 2), ' ')))
"""


_H60 = "(('0x' || substr(md5({e}), 1, 15))::BIGINT)"
_MH_SEED_VALUES = ", ".join(
    "({}, {}, {})".format(i, *dedup._mh_ab(i)) for i in range(32)
)

# The data-relative df/bucket cap: ``frac`` of the documents, at least 1.
_DOC_CAP_SQL = "greatest(CAST(ceil({frac} * (SELECT count(*) FROM documents)) AS BIGINT), 1)"


def _shingle_ctes(cap: float | None = None, materialized: bool = False) -> str:
    """``sets(id, shingles)`` and ``postings(id, set_size, shingle)``: the
    distinct word-3-gram sets of the documents with >= 3 tokens. With
    ``cap``, also ``capped``: the postings of shingles in at most
    ``cap`` of the documents (set_size still counts every shingle)."""
    m = "MATERIALIZED " if materialized else ""
    sql = f"""sets AS {m}(
        SELECT doc_id AS id, {_SHINGLES_SQL} AS shingles
        FROM documents
        WHERE len({_TOKS_SQL}) >= 3
    ), postings AS {m}(
        SELECT id, len(shingles) AS set_size, unnest(shingles) AS shingle
        FROM sets WHERE len(shingles) > 0
    )"""
    if cap is not None:
        sql += f""", capped AS {m}(
        SELECT id, set_size, shingle FROM (
            SELECT id, set_size, shingle,
                   count(*) OVER (PARTITION BY shingle) AS df
            FROM postings
        )
        WHERE df <= {_DOC_CAP_SQL.format(frac=cap)}
    )"""
    return sql


def _pair_counts(src: str) -> str:
    """Shared-shingle counts ``(id_a, id_b, size_a, size_b, n_common)``
    per pair id_a < id_b of the sets in ``src(id, set_size, shingle)``
    that share a shingle: an inverted-index self-join."""
    return f"""
        SELECT a.id AS id_a, b.id AS id_b,
               a.set_size AS size_a, b.set_size AS size_b,
               count(*) AS n_common
        FROM {src} a JOIN {src} b USING (shingle)
        WHERE a.id < b.id
        GROUP BY 1, 2, 3, 4"""


def _cand_counts(src: str) -> str:
    """``_pair_counts`` for only the candidate pairs ``cand(id_a, id_b)``."""
    return f"""
        SELECT c.id_a, c.id_b, a.set_size AS size_a, b.set_size AS size_b,
               count(*) AS n_common
        FROM cand c
        JOIN {src} a ON a.id = c.id_a
        JOIN {src} b ON b.id = c.id_b AND b.shingle = a.shingle
        GROUP BY 1, 2, 3, 4"""


# Jaccard of a pair-count row as a 6-dp fixed-point double (integer
# division, so both engines truncate identically), and its threshold test.
_JACCARD_SQL = (
    "(CAST((n_common * 1000000) // (size_a + size_b - n_common) AS DOUBLE)"
    " / 1000000.0) AS jaccard"
)
_JACCARD_MIN_SQL = "CAST(n_common AS DOUBLE) / (size_a + size_b - n_common) >= {t}"


def _minhash_ctes(src: str) -> str:
    """MinHash(32) signatures ``sigs(id, seed, h)`` and LSH(8 bands)
    buckets ``bands(id, band, bucket)`` of the sets in ``src(id, set_size,
    shingle)``: ONE md5 per posting, and the 32 min-hashes are the affine
    universal family (a_i*h + b_i) mod p over it (dedup._mh_ab)."""
    return f"""hashed AS (
        SELECT id, set_size, shingle,
               {_H60.format(e="shingle")} % 2147483647 AS h0
        FROM {src}
    ), seeds AS (
        SELECT * FROM (VALUES {_MH_SEED_VALUES}) t(seed, a, b)
    ), sigs AS (
        SELECT id, seed, min((s.a * h0 + s.b) % 2147483647) AS h
        FROM hashed CROSS JOIN seeds s
        GROUP BY id, seed
    ), bands AS (
        SELECT id, CAST(seed // 4 AS INT) AS band,
               string_agg(CAST(h AS VARCHAR), '|' ORDER BY seed) AS bucket
        FROM sigs GROUP BY 1, 2
    )"""


def _collapse_ctes(src: str) -> str:
    """Identical-set collapse of ``src(id, set_size, shingle)``, mirroring
    the Spark operators: exact-clone families verify once through their
    min-id representative and expand after. ``set_fps`` keys each set by
    an order-free fingerprint of its kept shingles; ``members(set_fp,
    set_size, id, n_kept, rep)`` maps every document to its family's rep;
    ``rpost`` holds the reps' postings. The key includes set_size (under a
    df cap the kept sets can coincide while the Jaccard denominator
    differs)."""
    return f"""set_fps AS (
        SELECT id, set_size, count(*) AS n_kept,
               concat(bit_xor(hash(shingle)), ':', sum(hash(shingle)::HUGEINT), ':', count(*)) AS set_fp
        FROM {src} GROUP BY id, set_size
    ), reps AS (
        SELECT set_fp, set_size, min(id) AS rep FROM set_fps GROUP BY 1, 2
    ), members AS MATERIALIZED (
        SELECT s.set_fp, s.set_size, s.id, s.n_kept, r.rep
        FROM set_fps s JOIN reps r USING (set_fp, set_size)
    ), rpost AS MATERIALIZED (
        SELECT p.id, p.set_size, p.shingle
        FROM {src} p JOIN (SELECT DISTINCT rep FROM reps) r ON p.id = r.rep
    )"""


def _expanded_pairs(threshold: float) -> str:
    """``pairs(id_a, id_b, n_common, jaccard)`` from the collapsed
    ``rep_pairs(id_a, id_b, n_common, jaccard)``: every member pair of two
    paired families, plus the pairs within a family, whose sets share all
    n_kept shingles, where that Jaccard clears ``threshold``."""
    return f"""pairs AS (
        SELECT least(ma.id, mb.id) AS id_a, greatest(ma.id, mb.id) AS id_b,
               rp.n_common, rp.jaccard
        FROM rep_pairs rp
        JOIN members ma ON ma.rep = rp.id_a
        JOIN members mb ON mb.rep = rp.id_b
        UNION ALL
        SELECT id_a, id_b, CAST(n_common AS BIGINT) AS n_common, {_JACCARD_SQL} FROM (
            SELECT m1.id AS id_a, m2.id AS id_b, m1.n_kept AS n_common,
                   m1.set_size AS size_a, m1.set_size AS size_b
            FROM members m1 JOIN members m2 USING (set_fp, set_size)
            WHERE m1.id < m2.id
        ) WHERE {_JACCARD_MIN_SQL.format(t=threshold)}
    )"""


@register(
    "dedup_ngram_jaccard",
    oracle=f"""
    WITH {_shingle_ctes()}, pair_counts AS ({_pair_counts("postings")}
    )
    SELECT id_a, id_b, n_common, {_JACCARD_SQL}
    FROM pair_counts WHERE {_JACCARD_MIN_SQL.format(t=0.05)}
    """,
)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT word-3-gram Jaccard near-dup pairs via inverted-index self-join
    (operators/dedup.py — no O(n²); only docs sharing a shingle meet)."""
    d = load_table(spark, sf_dir, "documents")
    return dedup.ngram_jaccard_pairs(d, "doc_id", "text", n=3, threshold=0.05)


@register(
    "dedup_ngram_jaccard_capped",
    oracle=f"""
    WITH {_shingle_ctes(cap=0.01)}, pair_counts AS ({_pair_counts("capped")}
    )
    SELECT id_a, id_b, n_common, {_JACCARD_SQL}
    FROM pair_counts WHERE {_JACCARD_MIN_SQL.format(t=0.05)}
    """,
)
def dedup_ngram_jaccard_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SUBLINEAR-candidate variant of exact n-gram Jaccard: shingles in
    more than ``max_doc_frac`` of documents are dropped BEFORE the self-join
    (a df-f shingle contributes O(f²) candidate rows — the df cap bounds the
    join's output quadratically while set sizes keep counting dropped
    shingles, so every returned pair still meets the threshold on the TRUE
    Jaccard). This is the default 100 TB near-dup plan; the uncapped
    ``dedup_ngram_jaccard`` is the oracle-exact baseline. The DuckDB oracle
    applies the IDENTICAL cap (greatest(ceil(frac·n_docs), 1))."""
    d = load_table(spark, sf_dir, "documents")
    return dedup.ngram_jaccard_pairs(
        d, "doc_id", "text", n=3, threshold=0.05, max_doc_frac=0.01
    )


@register(
    "dedup_containment",
    oracle=f"""
    WITH {_shingle_ctes(cap=0.01)}, pair_counts AS ({_pair_counts("capped")}
    ), directional AS (
        SELECT id_a AS src_id, id_b AS dst_id, n_common, size_a AS src_size
        FROM pair_counts
        UNION ALL
        SELECT id_b, id_a, n_common, size_b
        FROM pair_counts
    )
    SELECT src_id, dst_id, n_common,
           (CAST((n_common * 1000000) // src_size AS DOUBLE)
            / 1000000.0) AS containment
    FROM directional
    WHERE CAST(n_common AS DOUBLE) / src_size >= 0.6
    """,
)
def dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DIRECTIONAL containment near-dup pairs: C(src→dst) = |src∩dst|/|src|
    ≥ 0.6 over 3-gram shingle sets — the subset-duplicate detector Jaccard
    structurally misses (a doc quoted whole inside a bigger one has
    Jaccard ≈ |small|/|big| → 0 but containment(small→big) ≈ 1; Broder
    1997's containment coefficient). Same sublinear candidate plan as the
    capped Jaccard family (df ≤ 1% of docs before the self-join, overlap
    counted ONCE per unordered pair, both directions thresholded from that
    one aggregate); the DuckDB oracle replays the identical cap and
    expansion (operators/dedup.py:containment_pairs)."""
    d = load_table(spark, sf_dir, "documents")
    return dedup.containment_pairs(
        d, "doc_id", "text", n=3, threshold=0.6, max_doc_frac=0.01
    )


@register(
    "dedup_jaccard_prefix",
    oracle=f"""
    WITH {_shingle_ctes()}, pair_counts AS ({_pair_counts("postings")}
    )
    SELECT id_a, id_b, n_common, {_JACCARD_SQL}
    FROM pair_counts WHERE {_JACCARD_MIN_SQL.format(t=0.5)}
    """,
)
def dedup_jaccard_prefix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT Jaccard ≥ 0.5 pairs via PPJoin-style prefix filtering
    (operators/dedup.py:jaccard_prefix_filter_pairs — candidates only from
    each doc's |d|−⌈t·|d|⌉+1 rarest shingles, provably lossless). The
    oracle is plain all-pairs Jaccard: prefix pruning cannot change the
    answer, and the oracle verifies exactly that. This is the exact-mode
    100 TB near-dup plan; the df-capped sibling trades a little recall for
    a hard df bound, MinHash for probabilistic recall at fixed cost."""
    d = load_table(spark, sf_dir, "documents")
    return dedup.jaccard_prefix_filter_pairs(d, "doc_id", "text", n=3, threshold=0.5)


@register(
    "dedup_incremental_exact",
    oracle="""
    WITH f AS (
        SELECT doc_id AS id,
               md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS fingerprint
        FROM documents
    ), g AS (
        SELECT fingerprint,
               min(CASE WHEN id % 2 = 0 THEN id END) AS rep_even,
               min(CASE WHEN id % 2 = 1 THEN id END) AS rep_odd
        FROM f GROUP BY 1
    )
    SELECT f.id, f.fingerprint,
           coalesce(g.rep_even, g.rep_odd) AS rep_id,
           (f.id = coalesce(g.rep_even, g.rep_odd)) AS first_seen
    FROM f JOIN g USING (fingerprint)
    """,
)
def dedup_incremental_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental corpus dedup (operators/dedup.py:incremental_exact_dedup,
    VERDICT r3 #8): ingest the even-doc_id half as the historical corpus,
    then dedup the odd half against the persisted fingerprint state WITHOUT
    rescanning the history — partition-pruned state probe + broadcast of
    the batch's fingerprints. First-seen-wins rep election: the oracle's
    ``coalesce(min even id, min odd id)`` is NOT plain min(id) wherever an
    odd doc precedes an even duplicate numerically, so a hash-match proves
    the two-phase state behavior, not just batch dedup. Replay idempotence
    is pinned separately in the property suite."""
    d = load_table(spark, sf_dir, "documents")
    state = fresh_dir("dedup_incremental_exact")
    a = dedup.incremental_exact_dedup(
        d.filter(col("doc_id") % 2 == 0), state, "doc_id", "text"
    )
    b = dedup.incremental_exact_dedup(
        d.filter(col("doc_id") % 2 == 1), state, "doc_id", "text"
    )
    return a.unionByName(b).localCheckpoint(eager=True)  # the next call deletes state


@register(
    "dedup_incremental_minhash",
    oracle=f"""
    WITH {_shingle_ctes()}, {_minhash_ctes("postings")}, cand AS (
        -- phase 1: the even half probes itself (both directions) …
        SELECT x.id, y.id AS match_id
        FROM bands x JOIN bands y USING (band, bucket)
        WHERE x.id % 2 = 0 AND y.id % 2 = 0 AND x.id <> y.id
        UNION
        -- … phase 2: the odd batch probes itself (both directions) …
        SELECT x.id, y.id
        FROM bands x JOIN bands y USING (band, bucket)
        WHERE x.id % 2 = 1 AND y.id % 2 = 1 AND x.id <> y.id
        UNION
        -- … and the persisted even-half state (id stays the batch doc)
        SELECT x.id, y.id
        FROM bands x JOIN bands y USING (band, bucket)
        WHERE x.id % 2 = 1 AND y.id % 2 = 0
    ), agree AS (
        SELECT c.id, c.match_id,
               sum(CASE WHEN s1.h = s2.h THEN 1 ELSE 0 END) AS n_agree
        FROM cand c
        JOIN sigs s1 ON s1.id = c.id
        JOIN sigs s2 ON s2.id = c.match_id AND s2.seed = s1.seed
        GROUP BY 1, 2
    )
    SELECT id, match_id, CAST(n_agree AS BIGINT) AS n_agree,
           n_agree / 32.0 AS est_jaccard
    FROM agree
    WHERE n_agree / 32.0 >= 0.5
    """,
)
def dedup_incremental_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental NEAR-dup detection against persisted MinHash band-bucket
    state (operators/dedup.py:incremental_minhash_lsh) — the probabilistic
    sibling of dedup_incremental_exact: ingest the even-doc_id half as the
    historical corpus, then probe the odd half against the persisted
    buckets WITHOUT recomputing history's signatures. Similarity is the
    signature-agreement MinHash estimator (n_agree/32 — an exact binary
    fraction, engine-identical), so state is 32 BIGINTs per doc, never
    postings or text. The oracle replays BOTH phases' candidate structure
    from the portable affine signatures; a hash-match proves the state
    probe finds exactly the pairs a batch-over-union run would. Replay
    idempotence is pinned in the property suite."""
    d = load_table(spark, sf_dir, "documents")
    state = fresh_dir("dedup_incremental_minhash")
    # shuffles sized to increment volume, not the session's corpus width
    # (VERDICT r5 #5 — the stream_purchase_attribution state-sizing fix)
    a = dedup.incremental_minhash_lsh(
        d.filter(col("doc_id") % 2 == 0), state, "doc_id", "text",
        shuffle_partitions="auto",
    )
    b = dedup.incremental_minhash_lsh(
        d.filter(col("doc_id") % 2 == 1), state, "doc_id", "text",
        shuffle_partitions="auto",
    )
    return a.unionByName(b).localCheckpoint(eager=True)  # the next call deletes state


# Prefix-filtered exact-Jaccard pair CTE chain (threshold 0.5) — the
# lossless prefix filter (Xiao et al. WWW'08): a pair with Jaccard >= t must
# share one of each side's (|d| - ceil(t*|d|) + 1) globally rarest shingles.
# Same lemma as the Spark operator, so the SQL stays tractable on replicated
# fixtures while the answer is provably the all-pairs one. Used directly by
# dedup_jaccard_topmatch's oracle and, via SCALE_ORACLES, as the at-scale
# stand-in for dedup_jaccard_prefix's deliberately all-pairs driver oracle
# (which verifies losslessness itself at sf0.01, where all-pairs is cheap).
_PREFIX_PAIRS_CTES = f"""
    WITH {_shingle_ctes(materialized=True)}, {_collapse_ctes("postings")}, with_df AS (
        SELECT id, set_size, shingle,
               count(*) OVER (PARTITION BY shingle) AS df
        FROM rpost
    ), ranked AS (
        SELECT id, set_size, shingle,
               row_number() OVER (PARTITION BY id ORDER BY df, shingle) AS rn
        FROM with_df
    ), prefix AS (
        SELECT id, set_size, shingle FROM ranked
        WHERE rn <= set_size - ceil(0.5 * set_size) + 1
    ), cand AS (
        SELECT DISTINCT a.id AS id_a, b.id AS id_b
        FROM prefix a JOIN prefix b USING (shingle)
        WHERE a.id < b.id
          AND b.set_size >= 0.5 * a.set_size
          AND a.set_size >= 0.5 * b.set_size
    ), pair_counts AS ({_cand_counts("rpost")}
    ), rep_pairs AS (
        SELECT id_a, id_b, n_common, {_JACCARD_SQL}
        FROM pair_counts WHERE {_JACCARD_MIN_SQL.format(t=0.5)}
    ), {_expanded_pairs(0.5)}
"""


def _collapsed_pairs_sql(threshold: float, frac_cap: float | None = None) -> str:
    """Collapse-based DuckDB twin of ngram_jaccard_pairs (optionally
    df-capped): identical-set collapse before the inverted-index self-join,
    expansion + within-group pairs after — value-identical to the naive
    all-pairs form (proven by the sf0.01 hash-match against the unchanged
    driver oracles) but linear in clone-family size, which is what makes
    the 100× replicated fixture tractable for the oracle side too. The
    df-cap, when present, is computed on the FULL postings before the
    collapse (the contract counts every document)."""
    src = "capped" if frac_cap is not None else "postings"
    return f"""
    WITH {_shingle_ctes(cap=frac_cap, materialized=True)}, {_collapse_ctes(src)}, rep_pairs AS (
        SELECT id_a, id_b, n_common, {_JACCARD_SQL}
        FROM ({_pair_counts("rpost")}
        ) WHERE {_JACCARD_MIN_SQL.format(t=threshold)}
    ), {_expanded_pairs(threshold)}
    SELECT id_a, id_b, n_common, jaccard FROM pairs
    """


# TEXT-level pre-collapse of the shingle head: ``tfam`` keys each distinct
# text by its min doc_id ``trep`` and family size ``tg``, and only those
# texts are shingled into ``sets``/``postings`` (which carry tg).
# Shingling is the dominant cost, and the GROUP BY also re-parallelizes
# DuckDB's pipeline, which is otherwise limited to the fixture file's few
# row groups.
_TEXT_FAMILY_CTES = f"""tfam AS MATERIALIZED (
        SELECT text, min(doc_id) AS trep, CAST(count(*) AS BIGINT) AS tg
        FROM documents
        WHERE len({_TOKS_SQL}) >= 3
        GROUP BY text
    ), sets AS MATERIALIZED (
        SELECT trep AS id, tg, {_SHINGLES_SQL} AS shingles FROM tfam
    ), postings AS MATERIALIZED (
        SELECT id, tg, len(shingles) AS set_size, unnest(shingles) AS shingle
        FROM sets WHERE len(shingles) > 0
    )"""


def _collapsed_containment_sql(threshold: float, frac_cap: float | None = None) -> str:
    """Collapse-based DuckDB twin of containment_pairs (optionally
    df-capped): DIRECTIONAL expansion at the representative level —
    per-direction containment (n_common / the src side's set_size) is
    exactly every member pair's value, and within-group ordered pairs
    share the whole filtered set (containment = n_kept/set_size).

    r8 (VERDICT r7 #4): the collapse now starts with a TEXT-level
    pre-collapse — shingling only DISTINCT texts and carrying shingle df
    as Σ text-family size — before the identical-SET grouping. The prior
    form still shingled every doc individually (~500M posting rows at the
    5M-doc fixture), and DuckDB's spill for those stages filled 80 GB of
    disk (the r7 ENOSPC); with the pre-collapse every stage before the
    final linear member expansion is bounded by the DISTINCT-TEXT count.
    Value-identical to the naive driver oracle (proven by the sf0.01
    in-suite stand-in equality check): identical texts have identical
    shingle sets, df sums are unchanged, and set-families merge
    text-families exactly as before."""
    cap = ""
    if frac_cap is not None:
        cap = f""", capped AS MATERIALIZED (
        SELECT id, set_size, shingle FROM (
            SELECT id, set_size, shingle,
                   sum(tg) OVER (PARTITION BY shingle) AS df
            FROM postings
        )
        WHERE df <= {_DOC_CAP_SQL.format(frac=frac_cap)}
    )"""
    src = "capped" if frac_cap is not None else "postings"
    return f"""
    WITH {_TEXT_FAMILY_CTES}{cap}, set_fps AS MATERIALIZED (
        SELECT id, set_size, count(*) AS n_kept,
               concat(bit_xor(hash(shingle)), ':', sum(hash(shingle)::HUGEINT), ':', count(*)) AS set_fp
        FROM {src} GROUP BY id, set_size
    ), sreps AS MATERIALIZED (
        SELECT set_fp, set_size, min(id) AS rep FROM set_fps GROUP BY 1, 2
    ), tmap AS MATERIALIZED (
        SELECT s.id AS trep, s.set_size, s.n_kept, r.rep
        FROM set_fps s JOIN sreps r USING (set_fp, set_size)
    ), members AS MATERIALIZED (
        SELECT d.doc_id AS id, t.rep, t.set_size, t.n_kept
        FROM documents d
        JOIN tfam f ON f.text = d.text
        JOIN tmap t ON t.trep = f.trep
    ), rpost AS MATERIALIZED (
        SELECT p.id, p.set_size, p.shingle
        FROM {src} p JOIN (SELECT DISTINCT rep FROM sreps) r ON p.id = r.rep
    ), rep_counts AS MATERIALIZED ({_pair_counts("rpost")}
    ), rep_dir AS (
        SELECT id_a AS src, id_b AS dst, n_common, size_a AS src_size
        FROM rep_counts
        UNION ALL
        SELECT id_b, id_a, n_common, size_b
        FROM rep_counts
    )
    SELECT ms.id AS src_id, md.id AS dst_id, rd.n_common,
           (CAST((rd.n_common * 1000000) // rd.src_size AS DOUBLE)
            / 1000000.0) AS containment
    FROM rep_dir rd
    JOIN members ms ON ms.rep = rd.src
    JOIN members md ON md.rep = rd.dst
    WHERE CAST(rd.n_common AS DOUBLE) / rd.src_size >= {threshold}
    UNION ALL
    SELECT m1.id AS src_id, m2.id AS dst_id,
           CAST(m1.n_kept AS BIGINT) AS n_common,
           (CAST((m1.n_kept * 1000000) // m1.set_size AS DOUBLE)
            / 1000000.0) AS containment
    FROM members m1 JOIN members m2 USING (rep)
    WHERE m1.id <> m2.id
      AND CAST(m1.n_kept AS DOUBLE) / m1.set_size >= {threshold}
    """


def _semdedup_scale_oracle(rounds: int = 12) -> str:
    """At-scale DuckDB stand-in for embed_semdedup_prune: identical-VECTOR
    collapse through the whole pipeline. Identical vectors share codes,
    cluster, and every rounded cosine, so (a) the fixed-point k-means
    replay runs at the REP level with multiplicity-weighted centroid
    updates — Σ_members code = Σ_reps g·code, n = Σ g, exactly the
    full-data round-half-up mean — and (b) the within-cluster cosine graph
    collapses to rep nodes (clone families are internally connected at
    cos 1.0, cross edges replicate the rep edge), so the duplicate-family
    label is min-rep = min-member-id, replayed by ``rounds`` unrolled
    pointer-jumping label steps (diameter ≤ 2^rounds) instead of the
    recursive closure that is quadratic in family size."""
    return f"""
    WITH {_VECTOR_FAMILY_CTES}, e AS MATERIALIZED (
        SELECT rep AS id, v, g FROM vreps
    ), {_int8_ctes("e")}, codes AS MATERIALIZED (
        -- stats runs over the reps: clones contribute no new values, so
        -- the rep-level envelope equals the full-data envelope
        SELECT id, i, g, CAST({_INT8_CODE_SQL} AS BIGINT) AS code
        FROM u JOIN stats USING (i) JOIN e USING (id)
    ), seed_ids AS (
        SELECT id, CAST(row_number() OVER (ORDER BY id) - 1 AS INT) AS j
        FROM (SELECT DISTINCT id FROM vmembers) ORDER BY id LIMIT 8
    ), cents0 AS (
        SELECT s.j, c.i, c.code
        FROM seed_ids s JOIN vmembers m ON m.id = s.id
        JOIN codes c ON c.id = m.rep
    ), d1 AS (
        SELECT c.id, k.j, sum((c.code - k.code) * (c.code - k.code)) AS dist2
        FROM codes c JOIN cents0 k USING (i)
        GROUP BY 1, 2
    ), a1 AS (
        SELECT id, j FROM (
            SELECT id, j, row_number() OVER (PARTITION BY id ORDER BY dist2, j) AS rn
            FROM d1
        ) WHERE rn = 1
    ), upd AS (
        -- member-level round-half-up mean from rep sufficient statistics
        SELECT a1.j, c.i,
               CAST((2 * sum(c.code * c.g) + sum(c.g)) // (2 * sum(c.g)) AS BIGINT) AS code
        FROM a1 JOIN codes c USING (id)
        GROUP BY 1, 2
    ), cents1 AS (
        SELECT k.j, k.i, coalesce(u2.code, k.code) AS code
        FROM cents0 k LEFT JOIN upd u2 ON u2.j = k.j AND u2.i = k.i
    ), d2 AS (
        SELECT c.id, k.j, sum((c.code - k.code) * (c.code - k.code)) AS dist2
        FROM codes c JOIN cents1 k USING (i)
        GROUP BY 1, 2
    ), asg AS (
        SELECT id, j AS cluster FROM (
            SELECT id, j, row_number() OVER (PARTITION BY id ORDER BY dist2, j) AS rn
            FROM d2
        ) WHERE rn = 1
    ), cv AS MATERIALIZED (
        SELECT e.id, e.v, a.cluster FROM e JOIN asg a USING (id)
    ), rep_pairs AS MATERIALIZED (
        SELECT x.id AS id_a, y.id AS id_b
        FROM cv x JOIN cv y USING (cluster)
        WHERE x.id < y.id
          AND {_COS_SQL.format(a="x.v", b="y.v")} >= 0.4
    ), lab0 AS MATERIALIZED (
        SELECT rep AS id, rep AS lab FROM vreps
    ){_min_label_ctes(rounds)},
    fam AS (
        -- a member is in a duplicate family iff its rep group has >= 2
        -- members (internal cos-1.0 edges) or its rep has a cross edge
        SELECT r.rep, l.lab AS family
        FROM vreps r
        JOIN lab{rounds} l ON l.id = r.rep
        LEFT JOIN connected c ON c.rep = r.rep
        WHERE r.g >= 2 OR c.rep IS NOT NULL
    )
    SELECT m.id, CAST(a.cluster AS BIGINT) AS cluster,
           (f.family IS NULL OR f.family = m.id) AS keep,
           CASE WHEN f.family <> m.id THEN f.family END AS pruned_by
    FROM vmembers m
    JOIN asg a ON a.id = m.rep
    LEFT JOIN fam f ON f.rep = m.rep
    """


def _min_label_ctes(rounds: int) -> str:
    """Connected components of the representatives' similarity graph
    ``rep_pairs(id_a, id_b)``, continuing a chain that defines ``lab0(id,
    lab)``: min-label propagation WITH pointer jumping (label :=
    label[label] each round, so ``rounds`` covers any component diameter
    ≤ 2^rounds) into ``lab{rounds}``; ``redges`` holds both edge
    directions and ``connected`` the reps with an edge. Non-convergence
    cannot pass silently: labels would differ from the driver oracle's
    closure and the value hash would MISMATCH."""
    sql = """, redges AS MATERIALIZED (
        SELECT id_a AS s, id_b AS d FROM rep_pairs
        UNION ALL
        SELECT id_b, id_a FROM rep_pairs
    )"""
    prev = "lab0"
    for k in range(1, rounds + 1):
        sql += f""", nmin{k} AS MATERIALIZED (
        SELECT l.id, least(l.lab, coalesce(min(n.lab), l.lab)) AS lab
        FROM {prev} l
        LEFT JOIN redges ed ON ed.s = l.id
        LEFT JOIN {prev} n ON n.id = ed.d
        GROUP BY l.id, l.lab
    ), lab{k} AS MATERIALIZED (
        SELECT a.id, b.lab FROM nmin{k} a JOIN nmin{k} b ON b.id = a.lab
    )"""
        prev = f"lab{k}"
    return sql + ", connected AS (SELECT DISTINCT s AS rep FROM redges)"


def _clusters_scale_oracle(rounds: int = 12) -> str:
    """At-scale DuckDB stand-in for dedup_clusters' recursive-CTE oracle:
    the transitive-closure CTE materializes O(Σ component²) reach rows
    (hopeless once near-dup families chain), so at replicated fixtures we
    replay the same public algorithm the Spark side runs — identical-set
    collapse, rep-level similarity edges, then min-label propagation with
    pointer jumping (``_min_label_ctes``)."""
    return f"""
    WITH {_shingle_ctes(materialized=True)}, {_collapse_ctes("postings")}, rep_pairs AS MATERIALIZED (
        SELECT id_a, id_b FROM ({_pair_counts("rpost")}
        ) WHERE {_JACCARD_MIN_SQL.format(t=0.05)}
    ), lab0 AS MATERIALIZED (
        SELECT DISTINCT rep AS id, rep AS lab FROM reps
    ){_min_label_ctes(rounds)},
    gsize AS (SELECT rep, count(*) AS g FROM members GROUP BY rep)
    -- only docs that appear in >= 1 similarity pair: members of a >= 2
    -- clone group (within-group pairs at Jaccard 1) or of a rep with a
    -- cross-group edge — matching connected_components' node set
    SELECT m.id AS doc_id, l.lab AS cluster_id
    FROM members m
    JOIN lab{rounds} l ON l.id = m.rep
    JOIN gsize gs ON gs.rep = m.rep
    LEFT JOIN connected c ON c.rep = m.rep
    WHERE gs.g >= 2 OR c.rep IS NOT NULL
    """


# At-scale oracle stand-ins for tools/diff_scale.py: value-identical SQL that
# applies the same public, provably-lossless pruning the Spark side uses, for
# queries whose driver-facing oracle is deliberately naive/all-pairs (the
# naive form IS the losslessness check at sf0.01; at 100x it is quadratic).
# Fixed-point hyperplane-LSH bucket CTEs (similarity._bucketize):
# q_j = floor(v_j · 2^20) is exact in IEEE doubles (power-of-two
# scaling — the random_project_fp convention), plane[p][j] = (j·31+p·17)%13−6
# is integer, so bucket bit p = [Σ_j q_j·plane_pj ≥ 0] is an order-free
# integer sum both engines compute identically. Expects a CTE ``e(vec_id, v)``
# with v DOUBLE[]; yields ``bkt(vec_id, bucket)``.
_LSH_BUCKET_CTES = """
    u AS (
        SELECT vec_id, unnest(v) AS x, generate_subscripts(v, 1) - 1 AS j
        FROM e
    ), qfp AS (
        SELECT vec_id, j, CAST(floor(x * 1048576.0) AS BIGINT) AS qx FROM u
    ), proj AS (
        SELECT vec_id, p, sum(qx * (((j * 31 + p * 17) % 13) - 6)) AS proj
        FROM qfp CROSS JOIN range(0, 4) t(p)
        GROUP BY 1, 2
    ), bkt AS (
        SELECT vec_id,
               CAST(sum(CASE WHEN proj >= 0 THEN 1 << p ELSE 0 END) AS INT) AS bucket
        FROM proj GROUP BY 1
    )
"""

_COS_SQL = (
    "round(list_dot_product({a}, {b}) / (sqrt(list_dot_product({a}, {a}))"
    " * sqrt(list_dot_product({b}, {b}))), 5)"
)

# The embeddings as DOUBLE[] vectors: ``e(id, v)``, and ``e(vec_id, v)``
# with its LSH buckets ``bkt(vec_id, bucket)``.
_EMBED_CTE = """e AS (
        SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
    )"""
_EMBED_LSH_CTES = """e AS (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
    ), """ + _LSH_BUCKET_CTES.strip()

# Identical-VECTOR collapse: ``vreps(v, rep, g)`` holds each distinct
# vector with its min id and family size, ``vmembers(id, rep)`` maps every
# id to its family's rep. Identical vectors share codes, buckets and every
# cosine, so the collapsed oracles work at rep level and expand after.
_VECTOR_FAMILY_CTES = """e0 AS MATERIALIZED (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
    ), vreps AS MATERIALIZED (
        SELECT v, min(vec_id) AS rep, count(*) AS g FROM e0 GROUP BY v
    ), vmembers AS MATERIALIZED (
        SELECT e0.vec_id AS id, r.rep FROM e0 JOIN vreps r ON e0.v = r.v
    )"""

# int8 code of ``x`` in its dimension's [mn, mx]: the rng guard of
# similarity.quantize_embeddings codes a degenerate dimension (mx = mn)
# to 0 instead of dividing by zero.
_INT8_CODE_SQL = (
    "floor((x - mn) * 255.0 / (CASE WHEN mx = mn THEN 1.0 ELSE mx - mn END) + 0.5)"
)


def _int8_ctes(src: str, dequantize: bool = False) -> str:
    """Per-dimension int8 scalar quantization of the vectors ``src(id, v)``
    (similarity.quantize_embeddings): ``u(id, i, x)`` flattens them and
    ``stats(i, mn, mx)`` holds each dimension's envelope, against which
    ``_INT8_CODE_SQL`` codes an ``x``. With ``dequantize``, also ``codes``
    and ``deq(id, v)``: the reconstruction mn + code·step, step = rng/255,
    the IEEE op sequence of similarity.dequantize_embeddings, so the
    doubles are bit-identical."""
    sql = f"""u AS (
        SELECT id, i, v[i] AS x FROM {src}, unnest(range(1, len(v)+1)) AS t(i)
    ), stats AS (
        SELECT i, min(x) AS mn, max(x) AS mx FROM u GROUP BY i
    )"""
    if dequantize:
        sql += f""", codes AS (
        SELECT id, i, {_INT8_CODE_SQL} AS code, mn,
               CASE WHEN mx = mn THEN mn + 1.0 ELSE mx END AS mx
        FROM u JOIN stats USING (i)
    ), deq AS (
        SELECT id, list(mn + code * ((mx - mn) / 255.0) ORDER BY i) AS v
        FROM codes GROUP BY id
    )"""
    return sql


# Exact cosine top-5 of the queries (id % 50 = 0) over ``{src}(id, v)``,
# self excluded, by (cos DESC, id): ``(q_id, c_id)`` rows.
_COS_TOP5_SQL = f"""
        SELECT q_id, c_id FROM (
            SELECT q.id AS q_id, c.id AS c_id,
                   row_number() OVER (
                       PARTITION BY q.id
                       ORDER BY {_COS_SQL.format(a="q.v", b="c.v")} DESC,
                                c.id
                   ) AS rnk
            FROM {{src}} q CROSS JOIN {{src}} c
            WHERE q.id % 50 = 0 AND c.id <> q.id
        ) WHERE rnk <= 5
"""

# Hamming-1 multiprobe over ``e(vec_id, v)`` and its buckets ``bkt``: each
# query (vec_id % 50 = 0) probes its bucket and the 4 single-bit flips,
# and ``pairs(q_id, c_id, bucket, cos)`` scores every corpus vector in a
# probed bucket; ``_IVF_TOP5_SQL`` keeps the 5 best per query.
_IVF_PAIRS_CTES = f"""c AS (
        SELECT e.vec_id AS c_id, e.v AS cv, b.bucket
        FROM e JOIN bkt b USING (vec_id)
    ), qv AS (
        SELECT e.vec_id AS q_id, e.v AS qv, b.bucket
        FROM e JOIN bkt b USING (vec_id)
        WHERE e.vec_id % 50 = 0
    ), probes AS (
        SELECT q_id, qv,
               unnest([bucket, xor(bucket, 1), xor(bucket, 2),
                       xor(bucket, 4), xor(bucket, 8)]) AS bucket
        FROM qv
    ), pairs AS (
        SELECT p.q_id, c.c_id, c.bucket,
               {_COS_SQL.format(a="p.qv", b="c.cv")} AS cos
        FROM probes p JOIN c USING (bucket)
        WHERE c.c_id <> p.q_id
    )"""
_IVF_TOP5_SQL = """
    SELECT q_id, c_id, bucket, cos, CAST(rnk AS BIGINT) AS rank FROM (
        SELECT q_id, c_id, bucket, cos,
               row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, c_id) AS rnk
        FROM pairs
    ) WHERE rnk <= 5
    """


def _collapsed_minhash_scale_oracle(frac_cap: float | None = None) -> str:
    """Identical-set collapse before the signature/banding chain — identical
    shingle sets have identical min-hash signatures, band buckets, and
    verification outcomes (the exact lemma the Spark operator applies,
    operators/dedup.py:minhash_lsh_pairs), so the candidate join stops being
    quadratic in clone-family size. The naive per-document form stays the
    sf0.01 driver oracle.

    ``frac_cap`` replays the hot-bucket cap at the collapsed level: bucket
    mass is the SUM of member-family sizes (the engine's Σ_g window over
    the cap-filtered banding), only cool buckets generate candidates, and a
    family emits its within-pairs exactly when ≥1 of its band buckets
    survives — the both-paths-alike contract the engine documents."""
    if frac_cap is None:
        cap_ctes, cand_cool, within_cool = "", "", ""
    else:
        cap_ctes = f""", famsz AS (
        SELECT rep, count(*) AS g FROM members GROUP BY rep
    ), cool AS (
        SELECT band, bucket
        FROM bands b JOIN famsz f ON f.rep = b.id
        GROUP BY band, bucket
        HAVING sum(f.g) <= {_DOC_CAP_SQL.format(frac=frac_cap)}
    ), survivors AS (
        SELECT DISTINCT b.id AS rep FROM bands b JOIN cool USING (band, bucket)
    )"""
        cand_cool = "JOIN cool USING (band, bucket)\n        "
        within_cool = "JOIN survivors s ON s.rep = m1.rep\n    "
    return f"""
    WITH {_shingle_ctes(materialized=True)}, {_collapse_ctes("postings")}, {_minhash_ctes("rpost")}{cap_ctes}, cand AS (
        SELECT DISTINCT x.id AS id_a, y.id AS id_b
        FROM bands x JOIN bands y USING (band, bucket)
        {cand_cool}WHERE x.id < y.id
    ), pair_counts AS ({_cand_counts("rpost")}
    ), rep_pairs AS (
        SELECT id_a, id_b, {_JACCARD_SQL}
        FROM pair_counts WHERE {_JACCARD_MIN_SQL.format(t=0.3)}
    )
    SELECT least(ma.id, mb.id) AS id_a, greatest(ma.id, mb.id) AS id_b, rp.jaccard
    FROM rep_pairs rp
    JOIN members ma ON ma.rep = rp.id_a
    JOIN members mb ON mb.rep = rp.id_b
    UNION ALL
    SELECT m1.id AS id_a, m2.id AS id_b, 1.0 AS jaccard
    FROM members m1 JOIN members m2 USING (set_fp, set_size)
    {within_cool}WHERE m1.id < m2.id
    """


def _pagerank_scale_oracle(iters: int = 8, scale: int = 10**12) -> str:
    """Identical-SET collapse of _pagerank_fixed_sql for replicated
    fixtures (VERDICT r7 #4: the naive oracle's shingle self-join goes
    quadratic in clone-family size — 1362 s at 10×, needing a hand retry).

    Lemma (rank symmetry): docs with identical shingle sets are exchangeable
    under the similarity graph's automorphisms — identical cross-family
    edges (functions of the two sets), all-pairs within-family edges when
    the capped self-similarity s/(2·sz−s) clears the threshold (one shared
    predicate per family), identical degree. So every family member carries
    the SAME rank at every iteration, and the power iteration can run at
    family level with multiplicities: a member's neighbor contribution
    Σ_b rank_b // deg_b groups into (g_F−1)·(r_F // deg_F) within plus
    Σ_G g_G·(r_G // deg_G) across — multiplying AFTER the per-member floor,
    so the integer arithmetic is bit-identical to the naive per-member sum.
    Dangling mass is structurally 0 (edges are symmetric, every vertex has
    deg ≥ 1), matching the naive oracle's always-empty dangling scan.
    df-cap and thresholds replicate the naive oracle's expressions exactly
    (df as Σ family sizes; the SAME double-division comparison)."""
    head = f"""
    WITH {_TEXT_FAMILY_CTES}, set_fps AS MATERIALIZED (
        -- MATERIALIZED throughout: non-materialized CTEs inline PER
        -- REFERENCE in DuckDB, re-running the fingerprint aggregation for
        -- every reference (the r8 100x oracle hang). Collapse key is the
        -- UNCAPPED shingle set, exactly the naive oracle's doc identity.
        SELECT id, tg, set_size,
               concat(bit_xor(hash(shingle)), ':', sum(hash(shingle)::HUGEINT), ':', count(*)) AS set_fp
        FROM postings GROUP BY id, tg, set_size
    ), reps AS MATERIALIZED (
        SELECT set_fp, set_size, min(id) AS rep, CAST(sum(tg) AS BIGINT) AS g
        FROM set_fps GROUP BY 1, 2
    ), members AS MATERIALIZED (
        SELECT d.doc_id AS id, t.rep
        FROM documents d
        JOIN tfam f ON f.text = d.text
        JOIN (SELECT s.id AS trep, r.rep
              FROM set_fps s JOIN reps r USING (set_fp, set_size)) t
          ON t.trep = f.trep
    ), rpost AS MATERIALIZED (
        SELECT r.rep, r.set_size, r.g, p.shingle
        FROM postings p JOIN reps r ON p.id = r.rep
    ), dfs AS MATERIALIZED (
        SELECT shingle, sum(g) AS df FROM rpost GROUP BY 1
    ), capped AS MATERIALIZED (
        SELECT rp.rep AS id, rp.set_size, rp.shingle
        FROM rpost rp JOIN dfs USING (shingle)
        WHERE dfs.df <= {_DOC_CAP_SQL.format(frac=0.02)}
    ), surv AS MATERIALIZED (
        SELECT id AS rep, CAST(count(*) AS BIGINT) AS s FROM capped GROUP BY 1
    ), xedges AS MATERIALIZED (
        SELECT id_a, id_b FROM ({_pair_counts("capped")}
        ) WHERE {_JACCARD_MIN_SQL.format(t=0.3)}
    ), within AS MATERIALIZED (
        SELECT r.rep FROM reps r JOIN surv s USING (rep)
        WHERE r.g >= 2
          AND CAST(s.s AS DOUBLE) / (2 * r.set_size - s.s) >= 0.3
    ), adj AS MATERIALIZED (
        SELECT id_a AS f, id_b AS nb FROM xedges
        UNION ALL
        SELECT id_b AS f, id_a AS nb FROM xedges
    ), fdeg AS MATERIALIZED (
        SELECT v.rep, r.g, (w.rep IS NOT NULL) AS wi,
               CAST(CASE WHEN w.rep IS NOT NULL THEN r.g - 1 ELSE 0 END
                    + coalesce(nb.s, 0) AS BIGINT) AS deg
        FROM (SELECT rep FROM within
              UNION SELECT DISTINCT f AS rep FROM adj) v
        JOIN reps r USING (rep)
        LEFT JOIN within w USING (rep)
        LEFT JOIN (SELECT a.f, sum(g2.g) AS s
                   FROM adj a JOIN reps g2 ON g2.rep = a.nb
                   GROUP BY 1) nb ON nb.f = v.rep
    ), nn AS MATERIALIZED (
        SELECT CAST(sum(g) AS BIGINT) AS n FROM fdeg
    ), fr0 AS MATERIALIZED (
        SELECT rep, CAST({scale} // (SELECT n FROM nn) AS BIGINT) AS rank
        FROM fdeg
    )"""
    steps = []
    for k in range(1, iters + 1):
        p = k - 1
        steps.append(f""", c{k} AS MATERIALIZED (
        SELECT a.f AS rep, CAST(sum(dn.g * (r.rank // dn.deg)) AS BIGINT) AS c
        FROM adj a
        JOIN fdeg dn ON dn.rep = a.nb
        JOIN fr{p} r ON r.rep = a.nb
        GROUP BY 1
    ), fr{k} AS MATERIALIZED (
        SELECT d.rep,
               CAST({15 * scale} // (100 * (SELECT n FROM nn)) AS BIGINT)
               + CAST((85 * (CASE WHEN d.wi THEN (d.g - 1) * (rp.rank // d.deg)
                             ELSE 0 END
                             + coalesce(c.c, 0)))
                      // 100 AS BIGINT) AS rank
        FROM fdeg d
        JOIN fr{p} rp ON rp.rep = d.rep
        LEFT JOIN c{k} c ON c.rep = d.rep
    )""")
    return head + "".join(steps) + f"""
    SELECT m.id, f.rank AS rank_micro
    FROM members m JOIN fr{iters} f ON f.rep = m.rep
    """


# The quantized-agreement stand-in's top-5 per query member, rebuilt from
# rep-level cosines ``{src}(q_rep, c_rep, cos, g)``: candidate families
# with a strictly-better doc mass >= 7 are pruned first, and only a
# family's 7 smallest member ids (``mem7``) can surface.
_REP_TOP5_SQL = """
        SELECT q_id, c_id FROM (
            SELECT qm.id AS q_id, m7.id AS c_id,
                   row_number() OVER (PARTITION BY qm.id
                                      ORDER BY p.cos DESC, m7.id) AS rnk
            FROM (SELECT id, rep FROM vmembers WHERE id % 50 = 0) qm
            JOIN (
                SELECT q_rep, c_rep, cos FROM (
                    SELECT q_rep, c_rep, cos,
                           sum(g) OVER (PARTITION BY q_rep ORDER BY cos DESC
                                        RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                           - sum(g) OVER (PARTITION BY q_rep, cos) AS better
                    FROM {src}
                ) WHERE better < 7
            ) p ON p.q_rep = qm.rep
            JOIN mem7 m7 ON m7.rep = p.c_rep AND m7.id <> qm.id
        ) WHERE rnk <= 5"""

SCALE_ORACLES: dict[str, str] = {
    "graph_pagerank_simgraph": _pagerank_scale_oracle(),
    "dedup_jaccard_prefix": _PREFIX_PAIRS_CTES
    + """
    SELECT id_a, id_b, n_common, jaccard FROM pairs
    """,
    # identical-TEXT collapse for the novelty oracle: clone members share
    # every shingle with their (min-id) rep, so a non-rep member's first-
    # occurrence count is 0 by construction and its n_shingles equals the
    # rep's; global shingle first-occurrence over reps == over all docs
    # (each family's min id IS its rep). Value-identical to the naive
    # driver oracle (verified at sf0.01 and 10×: byte-equal, 142 s → 7.8 s)
    # while shingling only DISTINCT texts.
    "doc_ngram_novelty": f"""
    WITH {_TEXT_FAMILY_CTES}, firsts AS (
        SELECT shingle, min(id) AS first_id FROM postings GROUP BY 1
    ), repstats AS (
        SELECT id, CAST(count(*) AS BIGINT) AS n_shingles,
               CAST(sum(CASE WHEN first_id = id THEN 1 ELSE 0 END) AS BIGINT) AS n_novel
        FROM postings JOIN firsts USING (shingle) GROUP BY id
    )
    SELECT d.doc_id,
           r.n_shingles,
           CASE WHEN d.doc_id = f.trep THEN r.n_novel ELSE 0 END AS n_novel,
           CASE WHEN d.doc_id = f.trep THEN (10000 * r.n_novel) // r.n_shingles
                ELSE 0 END AS novelty_bp
    FROM documents d JOIN tfam f ON f.text = d.text JOIN repstats r ON r.id = f.trep
    """,
    "dedup_clusters": _clusters_scale_oracle(),
    "embed_semdedup_prune": _semdedup_scale_oracle(),
    "dedup_minhash_lsh": _collapsed_minhash_scale_oracle(),
    # the capped registered twin (VERDICT r5 #2): same collapse, plus the
    # hot-bucket cap replayed at the collapsed level — value-verified at
    # 100×/1000×, not just the sf0.01 driver oracle
    "dedup_minhash_lsh_capped": _collapsed_minhash_scale_oracle(0.02),
    # identical-TEXT collapse for the capped suffix-array span oracle: a doc
    # with an exact clone shares its FULL capped prefix with that clone, so
    # its answer is least(cap, len) outright — no span needs enumerating;
    # singleton texts share spans only with other DISTINCT texts, so the
    # brute-force span join runs at the rep level (distinct-text-sized,
    # the same volume the naive oracle already handles at 10×).
    "dedup_suffix_longest_span": f"""
    WITH t0 AS MATERIALIZED (
        SELECT doc_id, {_TOKS_SQL} AS toks FROM documents
    ), fam AS MATERIALIZED (
        SELECT toks, min(doc_id) AS rep, count(*) AS g FROM t0 GROUP BY toks
    ), t AS MATERIALIZED (
        SELECT rep AS doc_id, toks FROM fam
    ), spans AS (
        SELECT doc_id, n,
               md5(list_aggregate(toks[i:i+n-1], 'string_agg', ' ')) AS fp
        FROM t,
             unnest(generate_series(1, least(32, len(toks)))) AS q(n),
             unnest(generate_series(1, len(toks) - n + 1)) AS s(i)
    ), shared AS (
        SELECT fp FROM spans GROUP BY fp HAVING count(DISTINCT doc_id) > 1
    ), repmax AS (
        SELECT s.doc_id AS rep, max(s.n) AS m
        FROM spans s JOIN shared USING (fp) GROUP BY s.doc_id
    )
    SELECT d.doc_id,
           CAST(CASE WHEN f.g >= 2 THEN least(32, len(d.toks))
                     ELSE coalesce(m.m, 0) END AS BIGINT) AS max_shared_len
    FROM t0 d
    JOIN fam f ON f.toks = d.toks
    LEFT JOIN repmax m ON m.rep = f.rep
    """,
    # identical-VECTOR collapse for the bucketed cosine near-dup pairs:
    # byte-identical vectors share the bucket (a function of the vector)
    # and every rounded cosine, so clone families verify once through a
    # representative; within-family pairs are cos = 1.0 exactly (round-5 of
    # a unit self-dot). Value-identical to the driver oracle, linear in
    # clone-family size where the naive in-bucket join is quadratic.
    "embed_cosine_neardup": f"""
    WITH {_VECTOR_FAMILY_CTES}, e AS MATERIALIZED (
        SELECT rep AS vec_id, v FROM vreps
    ), {_LSH_BUCKET_CTES.strip()}, m AS (
        SELECT e.vec_id, e.v, b.bucket FROM e JOIN bkt b USING (vec_id)
    ), rep_pairs AS (
        SELECT a.vec_id AS id_a, b.vec_id AS id_b,
               {_COS_SQL.format(a="a.v", b="b.v")} AS cos
        FROM m a JOIN m b USING (bucket)
        WHERE a.vec_id < b.vec_id
    ), kept AS (
        SELECT id_a, id_b, cos FROM rep_pairs WHERE cos >= 0.4
    )
    SELECT least(ma.id, mb.id) AS id_a, greatest(ma.id, mb.id) AS id_b, k.cos
    FROM kept k
    JOIN vmembers ma ON ma.rep = k.id_a
    JOIN vmembers mb ON mb.rep = k.id_b
    UNION ALL
    SELECT m1.id AS id_a, m2.id AS id_b, 1.0 AS cos
    FROM vmembers m1 JOIN vmembers m2 USING (rep)
    WHERE m1.id < m2.id
    """,
    "dedup_ngram_jaccard": _collapsed_pairs_sql(0.05),
    "dedup_ngram_jaccard_capped": _collapsed_pairs_sql(0.05, frac_cap=0.01),
    "dedup_containment": _collapsed_containment_sql(0.6, frac_cap=0.01),
    # identical-VECTOR collapse for the quantization recall audit (VERDICT
    # r5 #4 — the last 100× oracle residual): byte-identical embeddings
    # have identical quantized codes, identical cosines to everything, and
    # therefore identical neighbor RANKINGS up to the (cos DESC, id ASC)
    # tie-break — so both the exact and the quantized top-5 of every query
    # member are reconstructible from REP-level cosines plus family sizes.
    # Per query family, candidate families whose strictly-better doc mass
    # is ≥ 7 can never reach a top-5 (≤ 4 candidates ahead + 1 possible
    # self-exclusion, margin 2), and within a family only its 7 smallest
    # member ids can ever surface (a top-5 member is at most 6th in its
    # own family after self-exclusion) — both prunes are recall-complete,
    # so the expanded ranking is value-identical to the brute-force
    # all-pairs oracle while the cross product shrinks from (N/50)·N
    # member pairs to |families|² rep pairs.
    "embed_quantized_topk_agreement": f"""
    WITH {_VECTOR_FAMILY_CTES}, e AS MATERIALIZED (
        -- min/max over distinct vectors == min/max over all members
        SELECT rep AS id, v, g FROM vreps
    ), mem7 AS MATERIALIZED (
        SELECT rep, id FROM (
            SELECT rep, id, row_number() OVER (PARTITION BY rep ORDER BY id) AS rn
            FROM vmembers
        ) WHERE rn <= 7
    ), {_int8_ctes("e", dequantize=True)}, qfams AS MATERIALIZED (
        SELECT DISTINCT m.rep FROM vmembers m WHERE m.id % 50 = 0
    ), rce AS MATERIALIZED (
        SELECT qf.rep AS q_rep, c.id AS c_rep,
               {_COS_SQL.format(a="q.v", b="c.v")} AS cos, c.g
        FROM qfams qf
        JOIN e q ON q.id = qf.rep
        CROSS JOIN e c
    ), rcq AS MATERIALIZED (
        SELECT qf.rep AS q_rep, c.id AS c_rep,
               {_COS_SQL.format(a="q.v", b="c.v")} AS cos, cf.g
        FROM qfams qf
        JOIN deq q ON q.id = qf.rep
        CROSS JOIN deq c
        JOIN e cf ON cf.id = c.id
    ), te AS MATERIALIZED ({_REP_TOP5_SQL.format(src="rce")}
    ), tq AS MATERIALIZED ({_REP_TOP5_SQL.format(src="rcq")}
    )
    SELECT te.q_id,
           CAST(sum(CASE WHEN tq.c_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
               AS n_agree
    FROM te LEFT JOIN tq ON te.q_id = tq.q_id AND te.c_id = tq.c_id
    GROUP BY te.q_id
    """,
    # combinatorial census over the collapsed graph — same closed forms as
    # the round-4 Spark builder; the naive expanded triangle join stays the
    # sf0.01 driver oracle
    "graph_triangle_census": f"""
    WITH {_shingle_ctes(cap=0.01, materialized=True)}, {_collapse_ctes("capped")}, rep_pairs AS MATERIALIZED (
        SELECT id_a, id_b FROM ({_pair_counts("rpost")}
        ) WHERE {_JACCARD_MIN_SQL.format(t=0.05)}
    ), groups AS MATERIALIZED (
        SELECT rep, count(*) AS g,
               CASE WHEN CAST(any_value(n_kept) AS DOUBLE)
                         / (2 * any_value(set_size) - any_value(n_kept)) >= 0.05
                    THEN 1 ELSE 0 END AS w
        FROM members GROUP BY rep
    ), ewe AS MATERIALIZED (
        SELECT e.id_a, e.id_b, ga.g AS g_a, ga.w AS w_a, gb.g AS g_b, gb.w AS w_b
        FROM rep_pairs e
        JOIN groups ga ON ga.rep = e.id_a
        JOIN groups gb ON gb.rep = e.id_b
    ), nbr AS (
        SELECT rep, sum(gn) AS nmass FROM (
            SELECT id_a AS rep, g_b AS gn FROM ewe
            UNION ALL SELECT id_b, g_a FROM ewe
        ) GROUP BY 1
    ), deg AS (
        SELECT g.rep, g.g, g.w, coalesce(n.nmass, 0) + g.w * (g.g - 1) AS d
        FROM groups g LEFT JOIN nbr n USING (rep)
    ), wed AS (
        SELECT sum(g * ((d * (d - 1)) // 2)) AS n_wedges, sum(g) AS n_vertices
        FROM deg WHERE d > 0
    ), ec AS (
        SELECT sum(g_a * g_b) AS cross_edges,
               sum(w_a * ((g_a * (g_a - 1)) // 2) * g_b
                   + w_b * ((g_b * (g_b - 1)) // 2) * g_a) AS tri_two
        FROM ewe
    ), wc AS (
        SELECT sum(w * ((g * (g - 1)) // 2)) AS within_edges,
               sum(w * ((g * (g - 1) * (g - 2)) // 6)) AS tri_one
        FROM groups
    ), t3 AS (
        SELECT sum(e1.g_a * e1.g_b * g.g) AS tri_three
        FROM ewe e1
        JOIN rep_pairs e2 ON e2.id_a = e1.id_b
        JOIN rep_pairs e3 ON e3.id_a = e1.id_a AND e3.id_b = e2.id_b
        JOIN groups g ON g.rep = e2.id_b
    )
    SELECT CAST(coalesce(w1.n_vertices, 0) AS BIGINT) AS n_vertices,
           CAST(coalesce(ec.cross_edges, 0) + coalesce(wc.within_edges, 0) AS BIGINT) AS n_edges,
           CAST(coalesce(w1.n_wedges, 0) AS BIGINT) AS n_wedges,
           CAST(coalesce(t3.tri_three, 0) + coalesce(ec.tri_two, 0)
                + coalesce(wc.tri_one, 0) AS BIGINT) AS n_triangles,
           CASE WHEN coalesce(w1.n_wedges, 0) = 0 THEN 0.0
                ELSE 3.0 * CAST(coalesce(t3.tri_three, 0) + coalesce(ec.tri_two, 0)
                                + coalesce(wc.tri_one, 0) AS DOUBLE)
                     / CAST(w1.n_wedges AS DOUBLE) END AS clustering_coeff
    FROM wed w1, ec, wc, t3
    """,
}


@register(
    "dedup_jaccard_topmatch",
    oracle=_PREFIX_PAIRS_CTES
    + """
    , sym AS (
        SELECT id_a AS id, id_b AS match_id, n_common, jaccard FROM pairs
        UNION ALL
        SELECT id_b AS id, id_a AS match_id, n_common, jaccard FROM pairs
    )
    SELECT id, match_id, n_common, jaccard FROM (
        SELECT id, match_id, n_common, jaccard,
               row_number() OVER (PARTITION BY id ORDER BY jaccard DESC, match_id) AS rn
        FROM sym
    ) WHERE rn = 1
    """,
)
def dedup_jaccard_topmatch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document best exact-Jaccard match (≥ 0.5) — the LINEAR-OUTPUT
    sweep-facing form of the exact near-dup family (VERDICT r3 #3: the
    all-pairs emitters are quadratic in clone-family size at replicated
    fixtures; this contract emits ≤ 1 row per document at any scale while
    keeping exact precision and recall via the lossless prefix filter,
    operators/dedup.py:jaccard_topmatch). Pair emission remains a library
    call (ngram_jaccard_pairs / jaccard_prefix_filter_pairs)."""
    d = load_table(spark, sf_dir, "documents")
    return dedup.jaccard_topmatch(d, "doc_id", "text", n=3, threshold=0.5)



_SIMHASH_BITSUMS_SQL = ",\n               ".join(
    f"sum(CASE WHEN (h >> {b}) & 1 = 1 THEN 1 ELSE -1 END) AS b{b}" for b in range(60)
)
_SIMHASH_OR_SQL = " + ".join(
    f"(CASE WHEN b{b} > 0 THEN CAST({1 << b} AS BIGINT) ELSE CAST(0 AS BIGINT) END)"
    for b in range(60)
)
# 20 chunk-triple combos, shifts in bits — generated FROM the Spark side's
# enumeration (operators/dedup.py:SIMHASH_COMBOS) so the two engines cannot
# silently desync on combo ids or membership
_SIMHASH_COMBO_VALUES = ", ".join(
    f"({ci}, {i * 10}, {j * 10}, {k * 10})"
    for ci, (i, j, k) in enumerate(dedup.SIMHASH_COMBOS)
)




@register(
    "dedup_minhash_lsh",
    oracle=f"""
    WITH {_shingle_ctes()}, {_minhash_ctes("postings")}, cand AS (
        SELECT DISTINCT x.id AS id_a, y.id AS id_b
        FROM bands x JOIN bands y USING (band, bucket)
        WHERE x.id < y.id
    ), pair_counts AS ({_cand_counts("postings")}
    )
    SELECT id_a, id_b, {_JACCARD_SQL}
    FROM pair_counts WHERE {_JACCARD_MIN_SQL.format(t=0.3)}
    """,
)
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash(32)+LSH(8 bands) candidates verified by exact Jaccard
    (operators/dedup.py:minhash_lsh_pairs). Portable signatures: ONE
    md5-derived base hash per posting (operators/dedup.py:portable_hash60)
    expanded to 32 min-hashes by the Carter–Wegman affine family
    (a_i·h+b_i) mod 2^31−1 (dedup._mh_ab), so the DuckDB oracle replays
    the ENTIRE pipeline — signatures, band buckets, candidate set,
    verification — not just the verified tail (VERDICT r3 #2: formerly
    rows-only because xxhash64 has no DuckDB twin; the affine family cuts
    the digest cost 32× on BOTH engines vs per-seed md5)."""
    d = load_table(spark, sf_dir, "documents")
    return dedup.minhash_lsh_pairs(
        d, "doc_id", "text", n=3, num_hashes=32, bands=8, threshold=0.3
    )


@register(
    "dedup_minhash_lsh_capped",
    oracle=f"""
    WITH {_shingle_ctes()}, {_minhash_ctes("postings")}, cool AS (
        -- the hot-bucket cap: buckets holding more documents than
        -- greatest(ceil(0.02 * n_docs), 1) are boilerplate noise and are
        -- dropped from candidate generation (same data-relative shape as
        -- the dedup_ngram_jaccard_capped df-cap)
        SELECT band, bucket FROM bands
        GROUP BY band, bucket
        HAVING count(*) <= {_DOC_CAP_SQL.format(frac=0.02)}
    ), cand AS (
        SELECT DISTINCT x.id AS id_a, y.id AS id_b
        FROM bands x
        JOIN bands y USING (band, bucket)
        JOIN cool USING (band, bucket)
        WHERE x.id < y.id
    ), pair_counts AS ({_cand_counts("postings")}
    )
    SELECT id_a, id_b, {_JACCARD_SQL}
    FROM pair_counts WHERE {_JACCARD_MIN_SQL.format(t=0.3)}
    """,
)
def dedup_minhash_lsh_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH near-dup pairs WITH the hot-bucket cap engaged
    (operators/dedup.py:minhash_lsh_pairs ``max_bucket_frac=0.02`` —
    VERDICT r5 #2): a (band, bucket) holding more than ceil(0.02·n_docs)
    documents is near-identical boilerplate whose self-join pairs
    quadratically, so it is dropped from candidate generation before the
    join. Data-size-relative (CLAUDE.md rule 7); bucket mass is counted
    in DOCUMENTS (clone-family sizes in the collapsed path, count(*)
    direct), so the clone-fraction gate stays value-invisible and the
    oracle replays the cap with one HAVING over the band CTE. Precision
    stays exact (full-Jaccard verification unchanged); recall loss is
    confined to pairs all of whose agreeing bands are boilerplate-hot."""
    d = load_table(spark, sf_dir, "documents")
    return dedup.minhash_lsh_pairs(
        d, "doc_id", "text", n=3, num_hashes=32, bands=8, threshold=0.3,
        max_bucket_frac=0.02,
    )


@register(
    "dedup_simhash",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id AS id, unnest({_TOKS_SQL}) AS tok FROM documents
    ), hashed AS (
        SELECT id, {_H60.format(e="tok")} AS h FROM toks
    ), bitsums AS (
        SELECT id,
               {_SIMHASH_BITSUMS_SQL}
        FROM hashed GROUP BY id
    ), sigs AS MATERIALIZED (
        SELECT id, ({_SIMHASH_OR_SQL}) AS simhash FROM bitsums
    ), keys AS (
        SELECT id, simhash, c.combo,
               ((simhash >> c.s1) & 1023) * 1048576
             + ((simhash >> c.s2) & 1023) * 1024
             + ((simhash >> c.s3) & 1023) AS key
        FROM sigs CROSS JOIN (VALUES {_SIMHASH_COMBO_VALUES}) c(combo, s1, s2, s3)
    ), pairs AS (
        SELECT DISTINCT x.id AS id_a, y.id AS id_b,
               CAST(bit_count(xor(x.simhash, y.simhash)) AS BIGINT) AS hamming
        FROM keys x JOIN keys y USING (combo, key)
        WHERE x.id < y.id
          AND bit_count(xor(x.simhash, y.simhash)) <= 12
    )
    SELECT id_a, id_b, hamming FROM pairs
    """,
)
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs blocked on chunk TRIPLES — 6 chunks of 10
    bits, C(6,3)=20 combos of 30-bit block keys (operators/dedup.py:
    simhash_near_pairs; Manku et al. WWW'07 multi-table shape). Round-5
    recontract (VERDICT r4 What's-wrong #2): same pigeonhole recall
    guarantee (hamming ≤ 3) as the former 4×15-bit single-chunk blocking,
    but random chunk collisions shrink from N²/2¹⁵ (quadratic blowup at
    the 500k-doc fixture) to 20·N²/2³⁰ (~5 candidates/doc at N=10⁹).
    Portable 60-bit mode: every signature bit comes from the md5-derived
    portable_hash60, so the DuckDB oracle recomputes the signatures, the
    triple blocking, and the hamming filter bit-for-bit."""
    d = load_table(spark, sf_dir, "documents")
    pairs = dedup.simhash_near_pairs(d, "doc_id", "text", max_hamming=12)
    return pairs.select("id_a", "id_b", col("hamming").cast("long").alias("hamming"))


@register(
    "embed_cosine_topk",
    oracle=f"""
    WITH q AS (
        SELECT vec_id AS q_id, CAST(embedding AS DOUBLE[]) AS qv
        FROM embeddings WHERE vec_id % 50 = 0
    ), c AS (
        SELECT vec_id AS c_id, CAST(embedding AS DOUBLE[]) AS cv FROM embeddings
    ), pairs AS (
        SELECT q_id, c_id, {_COS_SQL.format(a="qv", b="cv")} AS cos
        FROM q CROSS JOIN c
        WHERE q_id <> c_id
    ), ranked AS (
        SELECT q_id, c_id, cos,
               row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, c_id) AS rank
        FROM pairs
    )
    SELECT q_id, c_id, cos, rank FROM ranked WHERE rank <= 5
    """,
)
def embed_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact brute-force cosine top-5 for a deterministic query subset
    (vec_id % 50 = 0) — the ANN baseline (operators/similarity.py)."""
    e = load_table(spark, sf_dir, "embeddings")
    q = e.filter(col("vec_id") % 50 == 0)
    return similarity.cosine_topk(q, e, k=5)


@register(
    "embed_ann_ivf",
    oracle=f"WITH {_EMBED_LSH_CTES}, {_IVF_PAIRS_CTES}" + _IVF_TOP5_SQL,
)
def embed_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF/LSH-bucketed approximate top-k with hamming-1 multiprobe: probe
    the query's hyperplane bucket plus its single-bit flips
    (operators/similarity.py:ivf_topk) — the 100 TB scale path: the corpus
    partitions by bucket, only query rows fan out. Round-4 recontract
    (VERDICT r3 #2 pattern): portable fixed-point bucketing — the
    projection sign is an integer sum over floor(v·2^20) against the
    deterministic integer planes — so the DuckDB oracle replays bucket
    geometry, the probe set, and the cosine ranking end-to-end (formerly
    rows-only with "bucket geometry engine-private")."""
    e = load_table(spark, sf_dir, "embeddings")
    q = e.filter(col("vec_id") % 50 == 0)
    return similarity.ivf_topk(q, e, k=5)


@register(
    "embed_cosine_neardup",
    oracle=f"""
    WITH {_EMBED_LSH_CTES}, m AS (
        SELECT e.vec_id, e.v, b.bucket FROM e JOIN bkt b USING (vec_id)
    ), pairs AS (
        SELECT a.vec_id AS id_a, b.vec_id AS id_b,
               {_COS_SQL.format(a="a.v", b="b.v")} AS cos
        FROM m a JOIN m b USING (bucket)
        WHERE a.vec_id < b.vec_id
    )
    SELECT id_a, id_b, cos FROM pairs WHERE cos >= 0.4
    """,
)
def embed_cosine_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-duplicate pairs via LSH buckets with exact cosine
    verification (operators/similarity.py:cosine_neardup_pairs). The
    fixture embeddings are random (max pairwise cosine ≈ 0.51), so the
    threshold is 0.4 — high-percentile for this data; real corpora use
    0.9+ where near-dups are true copies. Round-4 recontract: portable
    fixed-point bucketing makes the candidate structure SQL-replayable —
    the DuckDB oracle rebuilds the buckets and verifies every in-bucket
    pair (formerly rows-only)."""
    e = load_table(spark, sf_dir, "embeddings")
    return similarity.cosine_neardup_pairs(e, threshold=0.4)


@register(
    "dedup_clusters",
    oracle=f"""
    WITH RECURSIVE {_shingle_ctes()}, sim_pairs AS (
        SELECT id_a, id_b FROM ({_pair_counts("postings")}
        ) WHERE {_JACCARD_MIN_SQL.format(t=0.05)}
    ), edges AS (
        SELECT id_a AS src, id_b AS dst FROM sim_pairs
        UNION
        SELECT id_b, id_a FROM sim_pairs
    ), reach(src, dst) AS (
        SELECT src, src FROM edges
        UNION
        SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src
    )
    SELECT src AS doc_id, min(dst) AS cluster_id
    FROM reach GROUP BY src
    """,
)
def dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate CLUSTERS: connected components over the exact n-gram-Jaccard
    similarity graph (threshold 0.05) via iterative min-label propagation
    (operators/clusters.py). cluster_id = min(doc_id) of the component —
    canonical, so the recursive-CTE transitive-closure oracle agrees
    regardless of algorithm. This is the final step of corpus dedup: keep
    docs where doc_id == cluster_id, drop the rest."""
    from map_reduce_group_spark.operators.clusters import connected_components

    d = load_table(spark, sf_dir, "documents")
    pairs = dedup.ngram_jaccard_pairs(d, "doc_id", "text", n=3, threshold=0.05)
    return connected_components(pairs).select(col("id").alias("doc_id"), "cluster_id")


@register(
    "doc_chunking",
    oracle=f"""
    WITH t AS (
        SELECT doc_id, {_TOKS_SQL} AS toks,
               CAST(greatest(ceil((len({_TOKS_SQL}) - 8) / 24.0), 1) AS INTEGER) AS nc
        FROM documents
    ), flat AS (
        SELECT doc_id,
               unnest(list_transform(range(0, nc), i -> struct_pack(
                   cid := i,
                   txt := array_to_string(list_slice(toks, i*24 + 1, i*24 + 32), ' '),
                   n   := len(list_slice(toks, i*24 + 1, i*24 + 32))
               ))) AS u
        FROM t
    )
    SELECT doc_id AS id, u.cid AS chunk_id, u.txt AS chunk_text,
           u.n AS n_chunk_tokens
    FROM flat
    """,
)
def doc_chunking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-window chunking (size 32, overlap 8) over documents
    (operators/text.py:chunk_documents) — map-only, shuffle-free."""
    from map_reduce_group_spark.operators.text import chunk_documents

    d = load_table(spark, sf_dir, "documents")
    return chunk_documents(d, "doc_id", "text", chunk_size=32, overlap=8)


@register(
    "text_tfidf_top_terms",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, unnest({_TOKS_SQL}) AS term FROM documents
    ), tf AS (
        SELECT doc_id, term, count(*) AS tf_count FROM toks GROUP BY 1, 2
    ), dl AS (
        SELECT doc_id, count(*) AS doc_len FROM toks GROUP BY 1
    ), df AS (
        SELECT term, count(DISTINCT doc_id) AS doc_freq FROM toks GROUP BY 1
    ), n AS (
        SELECT count(*) AS n_docs FROM documents
    ), scored AS (
        SELECT tf.doc_id, tf.term,
               round((CAST(tf_count AS DOUBLE) / doc_len)
                     * ln((n_docs + 1.0) / (doc_freq + 1.0)), 6) AS tfidf
        FROM tf JOIN dl USING (doc_id) JOIN df USING (term) CROSS JOIN n
    )
    SELECT doc_id, term, tfidf, rank FROM (
        SELECT *, row_number() OVER (PARTITION BY doc_id
                                     ORDER BY tfidf DESC, term) AS rank
        FROM scored
    ) WHERE rank <= 3
    """,
)
def text_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TF-IDF top-3 terms per document — the classic multi-stage MR text
    pipeline (term counts → doc lengths → document frequencies → join →
    rank) as declarative joins + one window. Scale: term df is a broadcast
    dim (vocabulary-sized); the big explode shuffles once by (doc, term)."""
    d = load_table(spark, sf_dir, "documents")
    toks = d.select("doc_id", F.explode(tokens("text")).alias("term"))
    tf = toks.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf_count"))
    dl = toks.groupBy("doc_id").agg(F.count(F.lit(1)).alias("doc_len"))
    dfreq = toks.groupBy("term").agg(F.countDistinct("doc_id").alias("doc_freq"))
    n_docs = d.agg(F.count(F.lit(1)).alias("n_docs"))
    scored = (
        tf.join(dl, "doc_id")
        .join(F.broadcast(dfreq), "term")
        .crossJoin(F.broadcast(n_docs))
        .select(
            "doc_id",
            "term",
            # ADJUDICATED residual round() (rule-1 exception, VERDICT r8 #1):
            # tf-idf is irreducibly float — JVM Math.log and libm log may
            # differ by 1 ulp, so the two engines' inputs are not
            # bit-identical and NO discretization (round, floor, fixed
            # point) can be divergence-free; each disagrees only when the
            # two values straddle a grid boundary. round-6 is kept because
            # the boundary-straddle class here is benign: the values are
            # logs of rational numbers — irrational, never sitting ON a
            # decimal boundary the way 2-decimal money sums do (the
            # original rule-1 bite was x.5 EXACTLY at the cut position) —
            # so a disagreement needs the true value within ~1 ulp of a
            # 5e-7 grid line: ~2^-33 per value, hash-green r2-r8.
            F.round(
                (col("tf_count").cast("double") / col("doc_len"))
                * F.log((col("n_docs") + F.lit(1.0)) / (col("doc_freq") + F.lit(1.0))),
                6,
            ).alias("tfidf"),
        )
    )
    from pyspark.sql import Window

    w = Window.partitionBy("doc_id").orderBy(col("tfidf").desc(), col("term"))
    return scored.select(
        "doc_id", "term", "tfidf", F.row_number().over(w).cast("long").alias("rank")
    ).filter(col("rank") <= 3)


@register(
    "pipeline_corpus_prep",
    oracle=f"""
    WITH RECURSIVE fp AS (
        SELECT doc_id, text,
               md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS f
        FROM documents
    ), keep1 AS (
        SELECT doc_id, text FROM fp
        QUALIFY row_number() OVER (PARTITION BY f ORDER BY doc_id) = 1
    ), sets AS (
        SELECT doc_id AS id, {_SHINGLES_SQL} AS shingles
        FROM keep1
        WHERE len({_TOKS_SQL}) >= 3
    ), postings AS (
        SELECT id, len(shingles) AS set_size, unnest(shingles) AS shingle
        FROM sets WHERE len(shingles) > 0
    ), capped AS (
        SELECT id, set_size, shingle FROM (
            SELECT id, set_size, shingle,
                   count(*) OVER (PARTITION BY shingle) AS df
            FROM postings
        )
        WHERE df <= greatest(CAST(ceil(0.01 * (SELECT count(*) FROM keep1)) AS BIGINT), 1)
    ), sim_pairs AS (
        SELECT id_a, id_b FROM ({_pair_counts("capped")}
        ) WHERE {_JACCARD_MIN_SQL.format(t=0.05)}
    ), edges AS (
        SELECT id_a AS src, id_b AS dst FROM sim_pairs
        UNION
        SELECT id_b, id_a FROM sim_pairs
    ), reach(src, dst) AS (
        SELECT src, src FROM edges
        UNION
        SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src
    ), labels AS (
        SELECT src AS doc_id, min(dst) AS cluster_id FROM reach GROUP BY src
    ), keep2 AS (
        SELECT k.doc_id, k.text
        FROM keep1 k LEFT JOIN labels l USING (doc_id)
        WHERE l.cluster_id IS NULL OR l.cluster_id = k.doc_id
    ), keep3 AS (
        SELECT doc_id, text FROM keep2 WHERE len({_TOKS_SQL}) >= 10
    ), grid AS (
        SELECT doc_id, {_TOKS_SQL} AS toks,
               CAST(greatest(ceil((len({_TOKS_SQL}) - 8) / 24.0), 1) AS INTEGER) AS nc
        FROM keep3
    ), flat AS (
        SELECT doc_id,
               unnest(list_transform(range(0, nc), i -> struct_pack(
                   cid := i,
                   txt := array_to_string(list_slice(toks, i*24 + 1, i*24 + 32), ' ')
               ))) AS u
        FROM grid
    )
    SELECT doc_id AS id, u.cid AS chunk_id, u.txt AS chunk_text FROM flat
    """,
)
def pipeline_corpus_prep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end training-corpus preparation — the flagship composition of
    the LLM operator set, one declarative pipeline:

    1. exact dedup by content fingerprint (keep min doc_id per digest);
    2. near-dup clustering: 3-gram-Jaccard pairs (≥0.05) with the df-capped
       sublinear candidate plan (max_doc_frac=0.01 — the default 100 TB
       path, see dedup_ngram_jaccard_capped) → connected components → keep
       only cluster representatives (min id);
    3. quality gate: ≥10 word tokens;
    4. chunking: 32-token windows, 8-token overlap.

    Every stage is an operator from operators/ verified independently; the
    oracle replays the identical semantics as one recursive-CTE SQL
    pipeline. At 100 TB each stage shuffles the minimal payload for its
    step (digests, shingle postings, edges, token arrays respectively)."""
    from pyspark.sql import Window as W

    from map_reduce_group_spark.operators.clusters import connected_components
    from map_reduce_group_spark.operators.text import chunk_documents, fingerprint, token_count

    from pyspark import StorageLevel

    d = load_table(spark, sf_dir, "documents")
    # 1. exact dedup — persisted: keep1 feeds the near-dup pair generation
    # (clone gate + postings), the keep2 representative join, and through
    # it the quality/chunking tail, so without a persist the fingerprint
    # window (and the documents scan under it) plans once per consumer
    # (guide §2.4)
    wfp = W.partitionBy("f").orderBy("doc_id")
    keep1 = (
        d.withColumn("f", fingerprint("text"))
        .withColumn("rn", F.row_number().over(wfp))
        .filter(col("rn") == 1)
        .select("doc_id", "text")
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    # 2. near-dup clusters over survivors; keep representatives
    pairs = dedup.ngram_jaccard_pairs(
        keep1, "doc_id", "text", n=3, threshold=0.05, max_doc_frac=0.01
    )
    labels = connected_components(pairs).withColumnRenamed("id", "doc_id")
    keep2 = (
        keep1.join(labels, "doc_id", "left")
        .filter(col("cluster_id").isNull() | (col("cluster_id") == col("doc_id")))
        .select("doc_id", "text")
    )
    # 3. quality gate
    keep3 = keep2.filter(token_count("text") >= 10)
    # 4. chunking
    return chunk_documents(keep3, "doc_id", "text", chunk_size=32, overlap=8).select(
        "id", "chunk_id", "chunk_text"
    )


@register(
    "pipeline_corpus_prep_v2",
    oracle=f"""
    WITH toks0 AS (
        SELECT doc_id, {_TOKS_SQL} AS t FROM documents
    ), ex AS (
        SELECT doc_id, unnest(range(0, greatest(len(t) - 1, 0))) AS pos, t FROM toks0
    ), gramc AS (
        SELECT doc_id, t[pos + 1] || ' ' || t[pos + 2] AS gram, count(*) AS c
        FROM ex GROUP BY 1, 2
    ), rep AS (
        SELECT doc_id,
               CAST(((sum(c) - count(*)) * 10000) // greatest(sum(c), 1) AS DOUBLE)
                   / 10000.0 AS dup
        FROM gramc GROUP BY 1
    ), rep_all AS (
        SELECT d.doc_id, coalesce(rep.dup, 0) AS dup
        FROM documents d LEFT JOIN rep USING (doc_id)
    ), thr AS (
        SELECT quantile_cont(dup, 0.5) AS m FROM rep_all
    ), keep1 AS (
        SELECT d.doc_id, d.text
        FROM documents d JOIN rep_all USING (doc_id) CROSS JOIN thr
        WHERE rep_all.dup <= thr.m
    ), scrubbed AS (
        SELECT doc_id,
               regexp_replace(
                   regexp_replace(
                       regexp_replace({_PII_INJECT_SQL},
                           '[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{{2,}}', '<EMAIL>', 'g'),
                       '\\b\\d{{3}}-\\d{{4}}\\b', '<PHONE>', 'g'),
                   '\\b\\d{{1,3}}\\.\\d{{1,3}}\\.\\d{{1,3}}\\.\\d{{1,3}}\\b', '<IP>', 'g') AS text
        FROM keep1
    ), keep2 AS (
        SELECT doc_id, text FROM (
            SELECT doc_id, text,
                   md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS f
            FROM scrubbed
        ) QUALIFY row_number() OVER (PARTITION BY f ORDER BY doc_id) = 1
    ), t AS (
        SELECT doc_id, len({_TOKS_SQL}) AS n FROM keep2
        WHERE len({_TOKS_SQL}) > 0
    ), c AS (
        SELECT doc_id, n,
               sum(n) OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING) - n AS cb
        FROM t
    )
    SELECT doc_id AS id,
           CAST(n AS BIGINT) AS n_tokens,
           CAST(cb // 64 AS BIGINT) AS first_seq,
           CAST((cb + n - 1) // 64 AS BIGINT) AS last_seq,
           CAST((cb + n - 1) // 64 - cb // 64 + 1 AS BIGINT) AS n_seqs
    FROM c
    """,
)
def pipeline_corpus_prep_v2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end corpus preparation, second composition — the quality/
    safety/packing pipeline complementing `pipeline_corpus_prep`'s dedup/
    chunking one:

    1. repetition gate (Gopher family): drop documents whose duplicate-
       2-gram fraction exceeds the corpus EXACT MEDIAN — a rank-relative,
       scale-stable threshold (rule 7); the median is one interpolated
       midpoint of two identically-computed doubles, so both engines
       compare bit-identical values (vs an avg of doubles, whose summation
       order is engine-private — rule 1);
    2. PII scrub: deterministic injection + global typed redaction;
    3. exact dedup of the SCRUBBED text (scrubbing can collapse documents
       that differed only in their PII — dedup must run after);
    4. sequence packing of the survivors into 64-token training sequences
       via the two-pass distributed prefix scan.

    Every stage is an independently-verified operator; the oracle replays
    the whole pipeline as one SQL chain."""
    from pyspark.sql import Window as W

    from map_reduce_group_spark.operators.text import fingerprint

    d = load_table(spark, sf_dir, "documents")
    rep = text.repetition_signals(d, "doc_id", "text").select(
        col("id").alias("doc_id"), "dup_2gram_frac"
    )
    med = rep.agg(F.expr("percentile(dup_2gram_frac, 0.5)").alias("m"))
    keep1 = (
        d.join(rep, "doc_id")
        .crossJoin(F.broadcast(med))
        .filter(col("dup_2gram_frac") <= col("m"))
        .select("doc_id", "text")
    )
    scrubbed = keep1.select(
        "doc_id", text.scrub_pii(_inject_pii(col("doc_id"), col("text"))).alias("text")
    )
    wfp = W.partitionBy("f").orderBy("doc_id")
    keep2 = (
        scrubbed.withColumn("f", fingerprint("text"))
        .withColumn("rn", F.row_number().over(wfp))
        .filter(col("rn") == 1)
        .select("doc_id", "text")
    )
    return text.pack_sequences(keep2, "doc_id", "text", seq_len=64)


@register(
    "doc_unicode_normalize",
    oracle="""
    WITH inj AS (
        SELECT doc_id,
               text
               || CASE WHEN doc_id % 3 = 0 THEN ' cafe' || chr(769) ELSE '' END
               || CASE WHEN doc_id % 4 = 0
                       THEN ' A' || chr(778) || 'ngstro' || chr(776) || 'm'
                       ELSE '' END AS t
        FROM documents
    )
    SELECT doc_id,
           nfc_normalize(t) <> t AS changed,
           CAST(length(nfc_normalize(t)) AS BIGINT) AS n_chars_nfc,
           md5(nfc_normalize(t)) AS digest
    FROM inj
    """,
)
def doc_unicode_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unicode NFC canonicalization (operators/text.py:nfc_normalize) — the
    pass that makes dedup fingerprints see decomposed and precomposed text
    as equal. The ASCII fixture corpus gets deterministic decomposed
    combining marks planted on doc_id-modulus slices (scale-stable, rule 7);
    the digest column proves byte-exact cross-engine normalization (DuckDB
    ``nfc_normalize`` is the oracle). Map-only, shuffle-free; the Pandas UDF
    is justified Python (no JVM normalization built-in)."""
    d = load_table(spark, sf_dir, "documents")
    injected = F.concat(
        col("text"),
        F.when(col("doc_id") % 3 == 0, F.lit(" cafe\u0301")).otherwise(F.lit("")),
        F.when(
            col("doc_id") % 4 == 0, F.lit(" A\u030angstro\u0308m")
        ).otherwise(F.lit("")),
    )
    norm = text.nfc_normalize(injected)
    return d.select(
        "doc_id",
        (norm != injected).alias("changed"),
        F.length(norm).cast("long").alias("n_chars_nfc"),
        F.md5(F.encode(norm, "UTF-8")).alias("digest"),
    )


def _bpe_oracle(n_merges: int) -> str:
    """Unrolled-CTE DuckDB twin of operators/bpe.py:bpe_merges: each merge
    iteration is one (pairs → best → replace) CTE stage; ``replace`` on the
    space-joined form gives identical left-to-right non-overlapping merge
    semantics in both engines."""
    sql = f"""
    WITH toks AS (
        SELECT unnest({_TOKS_SQL}) AS word FROM documents
    ), words0 AS (
        SELECT word, count(*) AS wc FROM toks GROUP BY word
    ), spaced0 AS MATERIALIZED (
        SELECT trim(regexp_replace(word, '(.)', '\\1 ', 'g')) AS s, wc FROM words0
    )"""
    prev = "spaced0"
    selects = []
    for k in range(1, n_merges + 1):
        sql += f""",
    pairs{k} AS (
        SELECT sp[i] || ' ' || sp[i+1] AS pair, wc
        FROM (SELECT string_split(s, ' ') AS sp, wc FROM {prev}),
             unnest(range(1, len(sp))) AS t(i)
    ), best{k} AS (
        SELECT pair, CAST(sum(wc) AS BIGINT) AS pair_count
        FROM pairs{k} GROUP BY pair ORDER BY pair_count DESC, pair LIMIT 1
    ), spaced{k} AS MATERIALIZED (
        -- boundary-guarded whole-symbol merge (operators/bpe.py:_merge_pair):
        -- double separators, literal-replace ' a  b ' -> ' ab ', collapse
        SELECT trim(replace(
                   replace(' ' || replace(s, ' ', '  ') || ' ',
                           ' ' || replace(b.pair, ' ', '  ') || ' ',
                           ' ' || replace(b.pair, ' ', '') || ' '),
                   '  ', ' ')) AS s, wc
        FROM {prev} CROSS JOIN best{k} b
    )"""
        prev = f"spaced{k}"
        selects.append(
            f"SELECT CAST({k} AS BIGINT) AS merge_rank, pair, "
            f"replace(pair, ' ', '') AS merged, pair_count FROM best{k}"
        )
    return sql + "\n    " + " UNION ALL ".join(selects)


def _bpe_apply_oracle(n_merges: int) -> str:
    """DuckDB twin of operators/bpe.py:bpe_token_counts: the learning CTE
    chain (carrying ``word`` through each merge stage) followed by the
    apply/count join."""
    sql = f"""
    WITH dtoks AS (
        SELECT doc_id, unnest({_TOKS_SQL}) AS word FROM documents
    ), wcounts AS (
        SELECT doc_id AS id, word, count(*) AS occ FROM dtoks GROUP BY 1, 2
    ), words0 AS (
        SELECT word, count(*) AS wc FROM dtoks GROUP BY word
    ), spaced0 AS MATERIALIZED (
        SELECT word, trim(regexp_replace(word, '(.)', '\\1 ', 'g')) AS s, wc
        FROM words0
    )"""
    prev = "spaced0"
    for k in range(1, n_merges + 1):
        sql += f""",
    pairs{k} AS (
        SELECT sp[i] || ' ' || sp[i+1] AS pair, wc
        FROM (SELECT string_split(s, ' ') AS sp, wc FROM {prev}),
             unnest(range(1, len(sp))) AS t(i)
    ), best{k} AS (
        SELECT pair FROM pairs{k} GROUP BY pair
        ORDER BY sum(wc) DESC, pair LIMIT 1
    ), spaced{k} AS MATERIALIZED (
        SELECT word,
               trim(replace(
                   replace(' ' || replace(s, ' ', '  ') || ' ',
                           ' ' || replace(b.pair, ' ', '  ') || ' ',
                           ' ' || replace(b.pair, ' ', '') || ' '),
                   '  ', ' ')) AS s, wc
        FROM {prev} CROSS JOIN best{k} b
    )"""
        prev = f"spaced{k}"
    return sql + f""",
    vocab AS (
        SELECT word, len(string_split(s, ' ')) AS n_sub FROM {prev}
    )
    SELECT id,
           CAST(sum(occ) AS BIGINT)         AS n_words,
           CAST(sum(occ * n_sub) AS BIGINT) AS n_subwords
    FROM wcounts JOIN vocab USING (word)
    GROUP BY id
    """


@register("doc_bpe_token_count", oracle=_bpe_apply_oracle(4))
def doc_bpe_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE APPLY: per-document subword counts under the learned 4-merge
    vocabulary (operators/bpe.py:bpe_token_counts) — token-budget
    accounting with the real tokenizer instead of a whitespace proxy.
    Segmentation runs on the distinct-word table (map-only literal-replace
    chain); one join + groupBy rolls it up per document. Exact integers —
    the DuckDB oracle replays learn + apply end-to-end."""
    from map_reduce_group_spark.operators.bpe import bpe_token_counts

    d = load_table(spark, sf_dir, "documents")
    return bpe_token_counts(d, "doc_id", "text", n_merges=4)


@register("doc_bpe_merges", oracle=_bpe_oracle(4))
def doc_bpe_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed BPE tokenizer training (operators/bpe.py): learn the
    first 4 merges over the corpus. One corpus-sized aggregation compresses
    to the distinct-word table; every iteration after that is vocab-sized
    (lookahead-regex pair extraction, argmax, literal-replace merge) with a
    single scalar per round reaching the driver. Byte-identical to the
    DuckDB unrolled-CTE replay — tie-breaks are (count DESC, pair ASC)."""
    from map_reduce_group_spark.operators.bpe import bpe_merges

    d = load_table(spark, sf_dir, "documents")
    return bpe_merges(d, "text", n_merges=4)


@register("doc_bpe_merges64", oracle=_bpe_oracle(64))
def doc_bpe_merges64(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE training at production merge count: 64 merges in a handful of
    batched rounds (VERDICT r3 #7 — operators/bpe.py:_select_serial_batch
    picks the longest provably serial-equivalent candidate prefix per
    round, then localCheckpoint cuts the merge-expression lineage). The
    DuckDB oracle is the 64-stage unrolled CTE chain (MATERIALIZED stages
    — each is referenced twice, and inlining would double per stage), so
    every one of the 64 (pair, count) rows is hash-verified; the
    batched-vs-serial property test covers arbitrary corpora at n=50."""
    from map_reduce_group_spark.operators.bpe import bpe_merges

    d = load_table(spark, sf_dir, "documents")
    return bpe_merges(d, "text", n_merges=64)


def _pagerank_fixed_sql(iters: int = 8, scale: int = 10**12) -> str:
    """Unrolled-CTE DuckDB twin of operators/clusters.pagerank_fixed over
    the 0.02-df-capped, threshold-0.3 similarity graph. Every stage is
    BIGINT arithmetic with integer division, so the ranks match Spark's
    bit-for-bit; MATERIALIZED CTEs stop the per-iteration double reference
    (contrib + dangling) from inlining exponentially (the BPE-oracle
    lesson)."""
    head = f"""
    WITH {_shingle_ctes(cap=0.02)}, pair_counts AS ({_pair_counts("capped")}
    ), pairs AS (
        SELECT id_a, id_b FROM pair_counts WHERE {_JACCARD_MIN_SQL.format(t=0.3)}
    ), edges AS MATERIALIZED (
        SELECT id_a AS src, id_b AS dst FROM pairs
        UNION ALL
        SELECT id_b AS src, id_a AS dst FROM pairs
    ), deg AS MATERIALIZED (
        SELECT src, count(*) AS deg FROM edges GROUP BY src
    ), verts AS MATERIALIZED (
        SELECT src AS id FROM edges UNION SELECT dst AS id FROM edges
    ), nn AS MATERIALIZED (
        SELECT count(*) AS n FROM verts
    ), r0 AS MATERIALIZED (
        SELECT id, CAST({scale} // (SELECT n FROM nn) AS BIGINT) AS rank
        FROM verts
    )"""
    steps = []
    for k in range(1, iters + 1):
        p = k - 1
        steps.append(f""", dang{p} AS MATERIALIZED (
        SELECT CAST(COALESCE(sum(r.rank), 0) AS BIGINT) AS dang
        FROM r{p} r LEFT JOIN deg d ON d.src = r.id
        WHERE d.src IS NULL
    ), r{k} AS MATERIALIZED (
        SELECT v.id,
               CAST({15 * scale} // (100 * (SELECT n FROM nn)) AS BIGINT)
               + CAST((85 * (COALESCE(c.contrib, 0)
                             + (SELECT dang FROM dang{p}) // (SELECT n FROM nn)))
                      // 100 AS BIGINT) AS rank
        FROM verts v LEFT JOIN (
            SELECT e.dst AS id, CAST(sum(r.rank // d.deg) AS BIGINT) AS contrib
            FROM edges e
            JOIN deg d ON d.src = e.src
            JOIN r{p} r ON r.id = e.src
            GROUP BY e.dst
        ) c USING (id)
    )""")
    return head + "".join(steps) + f"""
    SELECT id, rank AS rank_micro FROM r{iters}
    """


@register("graph_pagerank_simgraph", oracle=_pagerank_fixed_sql())
def graph_pagerank_simgraph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank centrality over the n-gram-similarity graph — the
    link-centrality signal corpus curation uses for authority scoring
    (Common-Crawl-style host ranking). Similarity pairs become symmetric
    edges; high-rank docs sit at the center of large duplicate/boilerplate
    families — the same families dedup_clusters identifies, now with a
    graded importance score.

    Round-4 recontract (VERDICT r3 #2 pattern): fixed-point integer
    PageRank (operators/clusters.py:pagerank_fixed — BIGINT micro-units,
    integer division everywhere) replaces the float power iteration in the
    REGISTERED query, so the full 8-iteration computation is replayed
    bit-exactly by the DuckDB unrolled-CTE oracle — summation order no
    longer matters, which is precisely what made the float form rows-only.
    The float operator remains the library default (one fewer multiply per
    edge); closed-form property tests pin both."""
    d = load_table(spark, sf_dir, "documents")
    # fractional df-cap (rule 7): an absolute cap goes empty-graph as the
    # corpus grows (clone families push every shingle's df past it)
    pairs = dedup.ngram_jaccard_pairs(
        d, "doc_id", "text", threshold=0.3, max_doc_frac=0.02
    )
    # single-pass symmetrization (the r6 jaccard_topmatch lesson): the
    # two-branch union planned the whole similarity-join subtree twice —
    # profiled at sf0.1 as two identical 21 MB-shuffle-write stages
    edges = pairs.select(
        F.explode(
            F.array(
                F.struct(col("id_a").alias("src"), col("id_b").alias("dst")),
                F.struct(col("id_b").alias("src"), col("id_a").alias("dst")),
            )
        ).alias("e")
    ).select("e.src", "e.dst")
    from map_reduce_group_spark.operators.clusters import pagerank_fixed

    return pagerank_fixed(edges, iters=8)


# Fixed-point k=8 / 2-iteration Lloyd CTE chain (kmeans_assign_fixedpoint's
# exact integer replay) — shared by embed_kmeans_assign and the SemDeDup
# oracle (which prepends WITH RECURSIVE for its transitive closure).
# Yields ``e(id, v)`` and ``d2(id, j, dist2)``.
_KMEANS_FP_CTES = f"""
    {_EMBED_CTE}, {_int8_ctes("e")}, codes AS (
        SELECT id, i, CAST({_INT8_CODE_SQL} AS BIGINT) AS code
        FROM u JOIN stats USING (i)
    ), seed_ids AS (
        SELECT id, CAST(row_number() OVER (ORDER BY id) - 1 AS INT) AS j
        FROM (SELECT DISTINCT id FROM codes) ORDER BY id LIMIT 8
    ), cents0 AS (
        SELECT s.j, c.i, c.code FROM seed_ids s JOIN codes c USING (id)
    ), d1 AS (
        SELECT c.id, k.j, sum((c.code - k.code) * (c.code - k.code)) AS dist2
        FROM codes c JOIN cents0 k USING (i)
        GROUP BY 1, 2
    ), a1 AS (
        SELECT id, j FROM (
            SELECT id, j, row_number() OVER (PARTITION BY id ORDER BY dist2, j) AS rn
            FROM d1
        ) WHERE rn = 1
    ), upd AS (
        -- round-half-up integer mean: (2*sum + n) // (2*n), no floats
        SELECT a1.j, c.i,
               CAST((2 * sum(c.code) + count(*)) // (2 * count(*)) AS BIGINT) AS code
        FROM a1 JOIN codes c USING (id)
        GROUP BY 1, 2
    ), cents1 AS (
        SELECT k.j, k.i, coalesce(u2.code, k.code) AS code
        FROM cents0 k LEFT JOIN upd u2 ON u2.j = k.j AND u2.i = k.i
    ), d2 AS (
        SELECT c.id, k.j, sum((c.code - k.code) * (c.code - k.code)) AS dist2
        FROM codes c JOIN cents1 k USING (i)
        GROUP BY 1, 2
    )
"""


@register(
    "embed_kmeans_assign",
    oracle="WITH "
    + _KMEANS_FP_CTES.strip()
    + """
    SELECT id, CAST(j AS BIGINT) AS cluster, CAST(dist2 AS BIGINT) AS dist2
    FROM (
        SELECT id, j, dist2, row_number() OVER (PARTITION BY id ORDER BY dist2, j) AS rn
        FROM d2
    ) WHERE rn = 1
    """,
)
def embed_kmeans_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-point int8-quantized Lloyd k-means assignment over the
    embeddings table (operators/similarity.py:kmeans_assign_fixedpoint,
    k=8, 2 iterations, deterministic lowest-id init) — the clustering
    kernel behind SemDeDup-style curation, on integer codes so the DuckDB
    oracle replays init, assignment, the round-half-up integer centroid
    update, and the final assignment EXACTLY (VERDICT r3 #2: the float
    variant was rows-only because float summation order is engine-private;
    integer sums are order-insensitive). Per iteration one Arrow
    mapInPandas pass emits ≤ k partial-sufficient-statistic rows per
    partition; only those P·k rows reach the driver. The float-embedding
    variant remains available as operators/similarity.py:kmeans_assign."""
    e = load_table(spark, sf_dir, "embeddings")
    return similarity.kmeans_assign_fixedpoint(e, "vec_id", "embedding", k=8, iters=2)


@register(
    "embed_ann_ivf_trained",
    oracle="WITH "
    + _KMEANS_FP_CTES.strip()
    + f"""
    , cells AS (
        SELECT id, j AS cell FROM (
            SELECT id, j,
                   row_number() OVER (PARTITION BY id ORDER BY dist2, j) AS rn
            FROM d2
        ) WHERE rn = 1
    ), probes AS (
        SELECT id AS q_id, j AS cell FROM (
            SELECT id, j,
                   row_number() OVER (PARTITION BY id ORDER BY dist2, j) AS rn
            FROM d2 WHERE id % 50 = 0
        ) WHERE rn <= 2
    ), cv AS (
        SELECT c.id AS c_id, e.v AS cv, c.cell
        FROM cells c JOIN e USING (id)
    ), pairs AS (
        SELECT p.q_id, c.c_id, c.cell,
               {_COS_SQL.format(a="q.v", b="c.cv")} AS cos
        FROM probes p
        JOIN cv c USING (cell)
        JOIN e q ON q.id = p.q_id
        WHERE c.c_id <> p.q_id
    )
    SELECT q_id, c_id, cell, cos, CAST(rnk AS BIGINT) AS rank FROM (
        SELECT q_id, c_id, cell, cos,
               row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, c_id) AS rnk
        FROM pairs
    ) WHERE rnk <= 5
    """,
)
def embed_ann_ivf_trained(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN top-5 over a TRAINED coarse quantizer (VERDICT r6 #7 — the
    production IVF shape, operators/similarity.py:ivf_trained_topk): cells
    are the fixed-point k-means centroids (k=8, 2 Lloyd iterations — the
    exact embed_kmeans_assign recipe, so the oracle's _KMEANS_FP_CTES
    replays the learned cells bit-for-bit), corpus rows land in their one
    nearest cell, and each query probes its 2 nearest cells before the
    exact cosine rerank. Data-adaptive cells beat the data-blind
    hyperplane buckets of embed_ann_ivf on recall per probed candidate at
    the same cogroup cost model."""
    e = load_table(spark, sf_dir, "embeddings")
    q = e.filter(col("vec_id") % 50 == 0)
    return similarity.ivf_trained_topk(
        q, e, k=5, n_cells=8, train_iters=2, nprobe=2
    )


@register(
    "embed_quantize_int8",
    oracle=f"""
    WITH {_EMBED_CTE}, {_int8_ctes("e")}
    SELECT id,
           string_agg(CAST(CAST({_INT8_CODE_SQL} AS INT) AS VARCHAR), ',' ORDER BY i)
               AS codes_csv
    FROM u JOIN stats USING (i)
    GROUP BY id
    """,
)
def embed_quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension uint8 scalar quantization of the embeddings table
    (operators/similarity.py:quantize_embeddings) — the 4× storage/bandwidth
    shrink for 100 TB vector corpora. Stats pass emits one partial row per
    Arrow batch; quantize pass is map-only with broadcast scales; codes are
    exact integers (min/max are order-insensitive and the quantize arithmetic
    is a fixed IEEE-double op sequence), so the DuckDB oracle hash-matches
    bit-for-bit. Codes surface as a CSV string — the driver's canonicalizer
    sorts the result frame and crashes on unhashable array cells
    (CORRECTNESS_r02 ERR), so no registered query exposes a top-level
    array/map column."""
    e = load_table(spark, sf_dir, "embeddings")
    q = similarity.quantize_embeddings(e, "vec_id", "embedding", levels=256)
    return q.select("id", F.concat_ws(",", col("codes")).alias("codes_csv"))


@register(
    "embed_quantized_topk_agreement",
    oracle=f"""
    WITH {_EMBED_CTE}, {_int8_ctes("e", dequantize=True)},
    te AS ({_COS_TOP5_SQL.format(src="e")}
    ), tq AS ({_COS_TOP5_SQL.format(src="deq")}
    )
    SELECT te.q_id,
           CAST(sum(CASE WHEN tq.c_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
               AS n_agree
    FROM te LEFT JOIN tq ON te.q_id = tq.q_id AND te.c_id = tq.c_id
    GROUP BY te.q_id
    """,
)
def embed_quantized_topk_agreement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The quantization-quality capstone: per query, how many of the exact
    cosine top-5 survive when search runs on int8-DEQUANTIZED vectors
    (quantize → mn + code·step → brute-force top-k). This is the
    measurement that justifies shipping a 4×-smaller corpus — recall@5 of
    quantized search, computed distributed and byte-agreed with a DuckDB
    replay of the whole pipeline (quantize, reconstruct, rank, intersect:
    every stage a fixed IEEE op sequence). Output (q_id, n_agree ∈ 0..5)."""
    e = load_table(spark, sf_dir, "embeddings")
    env = similarity.dimension_envelope(e)
    mn, mx = env
    exact = similarity.cosine_topk(e.filter(col("vec_id") % 50 == 0), e, k=5)
    codes = similarity.quantize_embeddings(e)
    deq = similarity.dequantize_embeddings(codes, mn, mx)
    quant = similarity.cosine_topk(
        deq.filter(col("id") % 50 == 0), deq, id_col="id", vec_col="v", k=5
    )
    te = exact.select("q_id", "c_id")
    tq = quant.select(col("q_id").alias("tq_q"), col("c_id").alias("tq_c"))
    return (
        te.join(
            tq, (te.q_id == tq.tq_q) & (te.c_id == tq.tq_c), "left"
        )
        .groupBy("q_id")
        .agg(
            F.sum(F.when(col("tq_c").isNotNull(), 1).otherwise(0))
            .cast("long")
            .alias("n_agree")
        )
    )


@register(
    "embed_random_projection",
    oracle="""
    WITH e AS (
        SELECT vec_id, unnest(embedding) AS x,
               generate_subscripts(embedding, 1) - 1 AS j
        FROM embeddings
    ), q AS (
        SELECT vec_id, j,
               CAST(floor(CAST(x AS DOUBLE) * 1048576) AS BIGINT) AS qx
        FROM e
    ), s AS (
        SELECT j, k,
               CASE WHEN CAST(('0x' || substr(md5('rp' || j || '_' || k), 1, 1)) AS INTEGER) % 2 = 0
                    THEN 1 ELSE -1 END AS sgn
        FROM (SELECT unnest(range(64)) AS j), (SELECT unnest(range(8)) AS k)
    ), c AS (
        SELECT vec_id AS id, k, CAST(sum(qx * sgn) AS BIGINT) AS code
        FROM q JOIN s USING (j) GROUP BY 1, 2
    )
    SELECT id, CAST(k AS BIGINT) AS k, code,
           (floor(code / 1048576.0 / sqrt(8.0) * 1000000) / 1000000.0) AS value
    FROM c
    """,
)
def embed_random_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Johnson–Lindenstrauss Rademacher projection 64→8 dims
    (operators/similarity.py:random_project_fp): content-addressed md5
    sign matrix + 1/2^20 fixed-point integer sums, so the reduced vectors
    are bit-identical across engines — the oracle replays the projection
    relationally (unnest + sign join) while Spark runs the map-only NumPy
    int64 matmul. Long-format output (id, k, code, value) — no array
    column reaches the driver."""
    d = load_table(spark, sf_dir, "embeddings")
    return similarity.random_project_fp(d, "vec_id", "embedding", k_out=8, dim=64)


@register(
    "embed_semdedup_prune",
    oracle="WITH RECURSIVE "
    + _KMEANS_FP_CTES.strip()
    + f"""
    , asg AS (
        SELECT id, j AS cluster FROM (
            SELECT id, j,
                   row_number() OVER (PARTITION BY id ORDER BY dist2, j) AS rn
            FROM d2
        ) WHERE rn = 1
    ), cv AS (
        SELECT e.id, e.v, a.cluster FROM e JOIN asg a USING (id)
    ), pairs AS (
        SELECT x.id AS id_a, y.id AS id_b
        FROM cv x JOIN cv y USING (cluster)
        WHERE x.id < y.id
          AND {_COS_SQL.format(a="x.v", b="y.v")} >= 0.4
    ), edges AS (
        SELECT id_a AS src, id_b AS dst FROM pairs
        UNION
        SELECT id_b, id_a FROM pairs
    ), reach(src, dst) AS (
        SELECT src, src FROM edges
        UNION
        SELECT r.src, e2.dst FROM reach r JOIN edges e2 ON r.dst = e2.src
    ), fam AS (
        SELECT src AS id, min(dst) AS family FROM reach GROUP BY src
    )
    SELECT e.id, CAST(a.cluster AS BIGINT) AS cluster,
           (f.family IS NULL OR f.family = e.id) AS keep,
           CASE WHEN f.family <> e.id THEN f.family END AS pruned_by
    FROM e JOIN asg a USING (id) LEFT JOIN fam f USING (id)
    """,
)
def embed_semdedup_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup semantic pruning, connected-component contract
    (operators/similarity.py:semdedup_prune_cc): fixed-point integer
    k-means clusters (bit-exact across engines, hash-proven by
    embed_kmeans_assign) + within-cluster cosine≥t edges + duplicate
    FAMILIES as connected components, keeping each family's lowest id.
    Round-4 recontract (VERDICT r3 #2 pattern): formerly rows-only because
    the greedy survivor set rode on float k-means centroids; min-of-
    component over fixed-point clusters is algorithm-independent, so the
    DuckDB oracle replays clustering, edge generation, and the transitive
    closure (the dedup_clusters recursive-CTE pattern) end-to-end. The
    scan-order greedy stays available as similarity.semdedup_prune. The
    fixture embeddings are random (max pairwise cosine ≈ 0.5), so the
    threshold is 0.4 — high-percentile for this data; real corpora use
    0.9+."""
    e = load_table(spark, sf_dir, "embeddings")
    return similarity.semdedup_prune_cc(
        e, "vec_id", "embedding", k=8, iters=2, threshold=0.4
    )


@register(
    "corpus_mixture_rebalance",
    oracle="""
    WITH tagged AS (
        SELECT doc_id, source,
               CAST(substr(source, 4) AS INTEGER) % 4 + 1 AS w
        FROM documents
    ), counts AS (
        SELECT source, count(*) AS n_docs, min(w) AS w FROM tagged GROUP BY 1
    ), shares AS (
        SELECT source, n_docs,
               w / sum(w) OVER ()           AS tw,
               n_docs / sum(n_docs) OVER () AS p
        FROM counts
    ), rates AS (
        SELECT source, n_docs,
               least(1.0, tw / p * min(p / tw) OVER ()) AS accept_rate
        FROM shares
    ), kept AS (
        SELECT t.source, count(*) AS n_kept
        FROM tagged t JOIN rates r USING (source)
        WHERE CAST(('0x' || substr(md5('mix' || CAST(doc_id AS VARCHAR)), 1, 8)) AS UBIGINT)
              / 4294967296.0 < r.accept_rate
        GROUP BY 1
    )
    SELECT source,
           CAST(n_docs AS BIGINT) AS n_docs,
           CAST(coalesce(n_kept, 0) AS BIGINT) AS n_kept,
           (floor(accept_rate * 1000000) / 1000000.0) AS accept_rate,
           (CAST((coalesce(n_kept, 0) * 1000000) // n_docs AS DOUBLE)
            / 1000000.0) AS kept_frac
    FROM rates LEFT JOIN kept USING (source)
    """,
)
def corpus_mixture_rebalance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain-mixture rebalancing (operators/sampling.py:mixture_rebalance):
    downsample each source toward target mixture weights (here w = source
    number mod 4 + 1 — a fixture-independent relative target) with
    deterministic md5-uniform keep decisions. Rates come from observed
    source shares (data-relative, rule 7), are broadcast back, and the keep
    predicate is map-side; returns the per-source audit table a mixture job
    publishes."""
    from map_reduce_group_spark.operators.sampling import mixture_rebalance

    d = load_table(spark, sf_dir, "documents")
    w = F.substring("source", 4, 10).cast("int") % 4 + 1
    return mixture_rebalance(d, "doc_id", "source", w)


@register(
    "corpus_importance_resample",
    oracle=f"""
    WITH t AS (
        SELECT doc_id, lang, {_TOKS_SQL} AS toks FROM documents
    ), bg AS (
        SELECT doc_id,
               CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS is_target,
               toks[i] || ' ' || toks[i+1] AS f
        FROM t, unnest(range(1, len(toks))) s(i)
    ), feat AS (
        SELECT doc_id, is_target,
               {_H60.format(e="f")} % 4096 AS bucket
        FROM bg
    ), bc AS (
        SELECT bucket, count(*) AS c, sum(is_target) AS t FROM feat GROUP BY 1
    ), tot AS (
        SELECT sum(c) AS nc, sum(t) AS nt FROM bc
    ), wt AS (
        -- add-one-smoothed target/corpus rate ratio in 1/1024 fixed point;
        -- HUGEINT so the products can't overflow, // floors like Spark div
        SELECT bucket,
               (CAST(t + 1 AS HUGEINT) * nc * 1024)
               // (CAST(c + 1 AS HUGEINT) * nt) AS w_fp
        FROM bc, tot
    ), doc AS (
        SELECT f.doc_id AS id, count(*) AS n_feats,
               CAST(sum(w.w_fp) AS BIGINT) AS score_fp
        FROM feat f JOIN wt w USING (bucket)
        GROUP BY 1
    ), env AS (
        SELECT sum(score_fp) AS gs, sum(n_feats) AS gn FROM doc
    )
    SELECT id, CAST(n_feats AS BIGINT) AS n_feats, score_fp,
           CAST(CASE WHEN CAST(score_fp AS HUGEINT) * gn
                          > CAST(gs AS HUGEINT) * n_feats
                THEN 1 ELSE 0 END AS INT) AS kept
    FROM doc, env
    """,
)
def corpus_importance_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR-style importance scoring toward the English subcorpus
    (operators/importance.py:importance_scores — Xie et al. 2023 with the
    log-likelihood ratio replaced by the repo's integer fixed-point rate
    ratio so the DuckDB oracle replays scores and keep flags exactly):
    hashed-bigram buckets (md5-derived portable_hash60 % 4096), add-one
    smoothed target/corpus weights, per-doc sums, and an above-corpus-mean
    keep flag (data-relative per rule 7 — a fixed score cutoff would drift
    as the corpus grows)."""
    d = load_table(spark, sf_dir, "documents")
    return importance.importance_scores(
        d, "doc_id", "text", target=col("lang") == "en", n_buckets=4096
    )


@register(
    "doc_quality_classifier",
    oracle=f"""
    WITH t AS (
        SELECT doc_id, lang, {_TOKS_SQL} AS toks FROM documents
    ), bgr AS (
        SELECT doc_id,
               CASE WHEN lang = 'en' THEN 1 ELSE -1 END AS y,
               toks[i] || ' ' || toks[i+1] AS f
        FROM t, unnest(range(1, len(toks))) s(i)
    ), feat0 AS (
        SELECT doc_id, y, {_H60.format(e="f")} % 4096 AS bucket,
               CAST(count(*) AS BIGINT) AS x
        FROM bgr GROUP BY 1, 2, 3
    ), feat AS (
        SELECT * FROM feat0
        UNION ALL
        SELECT doc_id, y, CAST(-1 AS BIGINT), CAST(1 AS BIGINT)
        FROM (SELECT DISTINCT doc_id, y FROM feat0)
    ),
    -- epoch 1 from w = 0: every doc scores 0 (y*0 <= 0, all misclassified)
    w1 AS (
        SELECT bucket, CAST(sum(y * x) AS BIGINT) AS w FROM feat GROUP BY 1
    ),
    -- epoch 2: score with w1, update on misclassified docs
    s2 AS (
        SELECT f.doc_id, f.y, sum(CAST(w.w AS HUGEINT) * f.x) AS s
        FROM feat f JOIN w1 w USING (bucket) GROUP BY 1, 2
    ), u2 AS (
        SELECT f.bucket, CAST(sum(f.y * f.x) AS BIGINT) AS dw
        FROM feat f JOIN s2 ON s2.doc_id = f.doc_id
        WHERE s2.y * s2.s <= 0 GROUP BY 1
    ), w2 AS (
        SELECT w1.bucket, w1.w + coalesce(u2.dw, 0) AS w
        FROM w1 LEFT JOIN u2 USING (bucket)
    ),
    -- epoch 3
    s3 AS (
        SELECT f.doc_id, f.y, sum(CAST(w.w AS HUGEINT) * f.x) AS s
        FROM feat f JOIN w2 w USING (bucket) GROUP BY 1, 2
    ), u3 AS (
        SELECT f.bucket, CAST(sum(f.y * f.x) AS BIGINT) AS dw
        FROM feat f JOIN s3 ON s3.doc_id = f.doc_id
        WHERE s3.y * s3.s <= 0 GROUP BY 1
    ), w3 AS (
        SELECT w2.bucket, w2.w + coalesce(u3.dw, 0) AS w
        FROM w2 LEFT JOIN u3 USING (bucket)
    )
    SELECT f.doc_id AS id, CAST(count(*) AS BIGINT) AS n_feats,
           CAST(CAST(sum(CAST(w.w AS HUGEINT) * f.x) AS VARCHAR) AS DOUBLE) AS score,
           sum(CAST(w.w AS HUGEINT) * f.x) > 0 AS pred,
           max(f.y) > 0 AS is_target
    FROM feat f JOIN w3 w USING (bucket)
    GROUP BY f.doc_id
    """,
)
def doc_quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Learned quality filter (operators/classifier.py) — a fastText-style
    hashed-bigram linear classifier (the CCNet quality/language filter
    shape, Wenzek et al. 2020; target class = the 'en' subcorpus, the same
    convention as corpus_importance_resample) trained with a deterministic
    integer BATCH perceptron: per epoch, score every document against the
    current weights, then apply one order-free aggregate update — bit-exact
    under any partitioning, so the DuckDB oracle replays all three epochs'
    weights and every final score exactly (unrolled CTEs). Completes the
    rules (doc_quality_rules) / distributional (corpus_importance_resample)
    / learned filtering triad. Driver state is only the ≤ 4097-row weight
    vector; the feature matrix localCheckpoints once and is reused across
    epochs; scoring rides a broadcast of the weight table."""
    from map_reduce_group_spark.operators.classifier import (
        perceptron_quality_classifier,
    )

    d = load_table(spark, sf_dir, "documents")
    return perceptron_quality_classifier(
        d, "doc_id", "text", target=col("lang") == "en", n_buckets=4096, epochs=3
    )


# kappa numerator/denominator for one filter pair, both widened to
# DECIMAL(38,0) (Spark) / HUGEINT (DuckDB): n² passes int64 at 10^10 docs.
# The FINAL step is one exact int→double division (a single IEEE op both
# engines round identically), never round(double) — rule 1.
def _kappa_exprs(na: str, nb: str, nagree: str) -> tuple[str, str]:
    pe = (
        f"(CAST({na} AS DECIMAL(38,0)) * {nb}"
        f" + CAST(n - {na} AS DECIMAL(38,0)) * (n - {nb}))"
    )
    num = f"(CAST(n AS DECIMAL(38,0)) * {nagree} - {pe})"
    den = f"(CAST(n AS DECIMAL(38,0)) * n - {pe})"
    return num, den


def _kappa_sql(na: str, nb: str, nagree: str) -> str:
    pe = (
        f"(CAST({na} AS HUGEINT) * {nb}"
        f" + CAST(n - {na} AS HUGEINT) * (n - {nb}))"
    )
    num = f"(CAST(n AS HUGEINT) * {nagree} - {pe})"
    den = f"(CAST(n AS HUGEINT) * n - {pe})"
    return (
        f"CASE WHEN {den} = 0 THEN CAST(0.0 AS DOUBLE)"
        f" ELSE CAST({num} AS DOUBLE) / CAST({den} AS DOUBLE) END"
    )


def _agree_pair_sql(name: str, na: str, nb: str, nboth: str, nagree: str) -> str:
    return (
        f"SELECT '{name}' AS pair, n AS n_docs, {na} AS n_a, {nb} AS n_b,"
        f" {nboth} AS n_both, {nagree} AS n_agree,"
        f" CAST(({nagree} * 10000) // n AS BIGINT) AS agree_bp,"
        f" {_kappa_sql(na, nb, nagree)} AS kappa FROM s"
    )


@register(
    "corpus_filter_agreement",
    oracle=f"""
    WITH
    -- branch 1: Gopher rules (doc_quality_rules oracle, reduced to passes;
    -- CTEs deliberately duplicated under a qr_ prefix rather than shared
    -- constants so the source queries' audit fingerprints stay untouched)
    qr_tok AS (
        SELECT doc_id, unnest({_TOKS_SQL}) AS tok FROM documents
    ), qr_tf AS (
        SELECT doc_id AS id, tok, CAST(count(*) AS BIGINT) AS tf,
               CAST(length(tok) AS BIGINT) AS toklen
        FROM qr_tok GROUP BY 1, 2
    ), qr_pd AS (
        SELECT id, CAST(sum(tf) AS BIGINT) AS n_tokens,
               CAST(sum(tf * toklen) AS BIGINT) AS sum_len,
               CAST(max(tf) AS BIGINT) AS max_tf
        FROM qr_tf GROUP BY 1
    ), qr_c AS (
        SELECT CAST(sum(n_tokens) AS BIGINT) AS t_tok,
               CAST(sum(sum_len) AS BIGINT) AS t_len,
               CAST(count(*) AS BIGINT) AS n_docs
        FROM qr_pd
    ), qr AS (
        SELECT id,
               NOT (2 * CAST(n_tokens AS HUGEINT) * n_docs < t_tok
                    OR CAST(n_tokens AS HUGEINT) * n_docs > 2 * t_tok
                    OR 3 * CAST(sum_len AS HUGEINT) * t_tok
                       < 2 * CAST(n_tokens AS HUGEINT) * t_len
                    OR 2 * CAST(sum_len AS HUGEINT) * t_tok
                       > 3 * CAST(n_tokens AS HUGEINT) * t_len
                    OR max_tf * 5 > n_tokens) AS passes
        FROM qr_pd, qr_c
    ),
    -- branch 2: DSIR importance keep flag (corpus_importance_resample)
    ds_t AS (
        SELECT doc_id, lang, {_TOKS_SQL} AS toks FROM documents
    ), ds_bg AS (
        SELECT doc_id,
               CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS is_target,
               toks[i] || ' ' || toks[i+1] AS f
        FROM ds_t, unnest(range(1, len(toks))) s(i)
    ), ds_feat AS (
        SELECT doc_id, is_target, {_H60.format(e="f")} % 4096 AS bucket
        FROM ds_bg
    ), ds_bc AS (
        SELECT bucket, count(*) AS c, sum(is_target) AS t FROM ds_feat GROUP BY 1
    ), ds_tot AS (
        SELECT sum(c) AS nc, sum(t) AS nt FROM ds_bc
    ), ds_wt AS (
        SELECT bucket,
               (CAST(t + 1 AS HUGEINT) * nc * 1024)
               // (CAST(c + 1 AS HUGEINT) * nt) AS w_fp
        FROM ds_bc, ds_tot
    ), ds_doc AS (
        SELECT f.doc_id AS id, count(*) AS n_feats,
               CAST(sum(w.w_fp) AS BIGINT) AS score_fp
        FROM ds_feat f JOIN ds_wt w USING (bucket)
        GROUP BY 1
    ), ds_env AS (
        SELECT sum(score_fp) AS gs, sum(n_feats) AS gn FROM ds_doc
    ), ds AS (
        SELECT id,
               CAST(score_fp AS HUGEINT) * gn > CAST(gs AS HUGEINT) * n_feats
                   AS kept
        FROM ds_doc, ds_env
    ),
    -- branch 3: batch-perceptron prediction (doc_quality_classifier,
    -- 3 epochs unrolled)
    cf_feat0 AS (
        SELECT doc_id, CASE WHEN lang = 'en' THEN 1 ELSE -1 END AS y,
               {_H60.format(e="f")} % 4096 AS bucket,
               CAST(count(*) AS BIGINT) AS x
        FROM (
            SELECT doc_id, lang, toks[i] || ' ' || toks[i+1] AS f
            FROM ds_t, unnest(range(1, len(toks))) s(i)
        ) GROUP BY 1, 2, 3
    ), cf_feat AS (
        SELECT * FROM cf_feat0
        UNION ALL
        SELECT doc_id, y, CAST(-1 AS BIGINT), CAST(1 AS BIGINT)
        FROM (SELECT DISTINCT doc_id, y FROM cf_feat0)
    ), cf_w1 AS (
        SELECT bucket, CAST(sum(y * x) AS BIGINT) AS w FROM cf_feat GROUP BY 1
    ), cf_s2 AS (
        SELECT f.doc_id, f.y, sum(CAST(w.w AS HUGEINT) * f.x) AS s
        FROM cf_feat f JOIN cf_w1 w USING (bucket) GROUP BY 1, 2
    ), cf_u2 AS (
        SELECT f.bucket, CAST(sum(f.y * f.x) AS BIGINT) AS dw
        FROM cf_feat f JOIN cf_s2 ON cf_s2.doc_id = f.doc_id
        WHERE cf_s2.y * cf_s2.s <= 0 GROUP BY 1
    ), cf_w2 AS (
        SELECT cf_w1.bucket, cf_w1.w + coalesce(cf_u2.dw, 0) AS w
        FROM cf_w1 LEFT JOIN cf_u2 USING (bucket)
    ), cf_s3 AS (
        SELECT f.doc_id, f.y, sum(CAST(w.w AS HUGEINT) * f.x) AS s
        FROM cf_feat f JOIN cf_w2 w USING (bucket) GROUP BY 1, 2
    ), cf_u3 AS (
        SELECT f.bucket, CAST(sum(f.y * f.x) AS BIGINT) AS dw
        FROM cf_feat f JOIN cf_s3 ON cf_s3.doc_id = f.doc_id
        WHERE cf_s3.y * cf_s3.s <= 0 GROUP BY 1
    ), cf_w3 AS (
        SELECT cf_w2.bucket, cf_w2.w + coalesce(cf_u3.dw, 0) AS w
        FROM cf_w2 LEFT JOIN cf_u3 USING (bucket)
    ), cf AS (
        SELECT f.doc_id AS id, sum(CAST(w.w AS HUGEINT) * f.x) > 0 AS pred
        FROM cf_feat f JOIN cf_w3 w USING (bucket)
        GROUP BY 1
    ),
    j AS (
        SELECT qr.passes AS a_r, ds.kept AS a_d, cf.pred AS a_c
        FROM qr JOIN ds USING (id) JOIN cf USING (id)
    ), s AS (
        SELECT CAST(count(*) AS BIGINT) AS n,
               CAST(sum(CASE WHEN a_r THEN 1 ELSE 0 END) AS BIGINT) AS nr,
               CAST(sum(CASE WHEN a_d THEN 1 ELSE 0 END) AS BIGINT) AS nd,
               CAST(sum(CASE WHEN a_c THEN 1 ELSE 0 END) AS BIGINT) AS ncf,
               CAST(sum(CASE WHEN a_r AND a_d THEN 1 ELSE 0 END) AS BIGINT) AS b_rd,
               CAST(sum(CASE WHEN a_r = a_d THEN 1 ELSE 0 END) AS BIGINT) AS g_rd,
               CAST(sum(CASE WHEN a_r AND a_c THEN 1 ELSE 0 END) AS BIGINT) AS b_rc,
               CAST(sum(CASE WHEN a_r = a_c THEN 1 ELSE 0 END) AS BIGINT) AS g_rc,
               CAST(sum(CASE WHEN a_d AND a_c THEN 1 ELSE 0 END) AS BIGINT) AS b_dc,
               CAST(sum(CASE WHEN a_d = a_c THEN 1 ELSE 0 END) AS BIGINT) AS g_dc
        FROM j
    )
    {_agree_pair_sql('rules_vs_dsir', 'nr', 'nd', 'b_rd', 'g_rd')}
    UNION ALL
    {_agree_pair_sql('rules_vs_clf', 'nr', 'ncf', 'b_rc', 'g_rc')}
    UNION ALL
    {_agree_pair_sql('dsir_vs_clf', 'nd', 'ncf', 'b_dc', 'g_dc')}
    """,
)
def corpus_filter_agreement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Filter-ensemble agreement audit over the quality triad — the
    analysis a curation pipeline runs before composing filters (which
    filters overlap, which add signal; cf. the filter-ablation tables of
    Dolma/DataComp): pairwise raw agreement and Cohen's kappa between the
    rule-based (doc_quality_rules ``passes``), distributional
    (corpus_importance_resample ``kept``), and learned
    (doc_quality_classifier ``pred``) keep decisions, on their common
    domain (docs with ≥ 1 bigram; inner join of the three). All counts are
    exact integers; agree_bp is 1/10⁴ fixed point; kappa is the one exact
    int→double division (DECIMAL(38,0)/HUGEINT intermediates — n² passes
    int64 at 10¹⁰ docs). Scale shape: the three branches are the audited
    operators themselves; the agreement reduce is ONE aggregation to a
    single scalar row expanded to 3 pair rows — rule-7 safe (all outputs
    corpus-relative rates)."""
    from map_reduce_group_spark.operators.classifier import (
        perceptron_quality_classifier,
    )

    d = load_table(spark, sf_dir, "documents")
    qr = text.quality_rules(d, "doc_id", "text").select("id", "passes")
    # guide §2.3/§2.4 (r9): the DSIR and classifier branches hash the SAME
    # bigrams into the SAME 4096 buckets — build the per-bigram bucket frame
    # once, materialize it, and feed both. One tokenize+lead-window+md5 pass
    # over the corpus instead of two; both branch outputs are bit-identical
    # to their self-contained forms (hashed_bigram_buckets docstring).
    bb = importance.hashed_bigram_buckets(
        d, "doc_id", "text", target=col("lang") == "en", n_buckets=4096
    ).localCheckpoint(eager=True)
    ds = importance.importance_scores(
        d, "doc_id", "text", target=col("lang") == "en", n_buckets=4096,
        bigram_buckets=bb,
    ).select("id", (col("kept") == 1).alias("kept"))
    cf = perceptron_quality_classifier(
        d, "doc_id", "text", target=col("lang") == "en", n_buckets=4096, epochs=3,
        bigram_buckets=bb,
    ).select("id", "pred")
    j = qr.join(ds, "id").join(cf, "id")
    s = j.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(col("passes").cast("long")).cast("long").alias("nr"),
        F.sum(col("kept").cast("long")).cast("long").alias("nd"),
        F.sum(col("pred").cast("long")).cast("long").alias("ncf"),
        F.sum((col("passes") & col("kept")).cast("long")).cast("long").alias("b_rd"),
        F.sum((col("passes") == col("kept")).cast("long")).cast("long").alias("g_rd"),
        F.sum((col("passes") & col("pred")).cast("long")).cast("long").alias("b_rc"),
        F.sum((col("passes") == col("pred")).cast("long")).cast("long").alias("g_rc"),
        F.sum((col("kept") & col("pred")).cast("long")).cast("long").alias("b_dc"),
        F.sum((col("kept") == col("pred")).cast("long")).cast("long").alias("g_dc"),
    )
    # ADVICE r8 #2: the three pair_row selects below each reference `s`;
    # without a cut, the full three-branch pipeline (rules tokenize+shuffle,
    # DSIR scoring, 3-epoch perceptron over the checkpointed features) would
    # execute once PER pair row. Materialize the one-row aggregate eagerly
    # so the composite runs exactly once (~3× less work, measured 10.4→
    # ~4 s at sf0.1). Lineage truncation is the right trade on a 1-row
    # frame: re-deriving it costs the whole pipeline, storing it is ~100 B.
    s = s.localCheckpoint(eager=True)

    def pair_row(name: str, na: str, nb: str, nboth: str, nagree: str):
        num, den = _kappa_exprs(na, nb, nagree)
        return s.select(
            F.lit(name).alias("pair"),
            col("n").alias("n_docs"),
            col(na).alias("n_a"),
            col(nb).alias("n_b"),
            col(nboth).alias("n_both"),
            col(nagree).alias("n_agree"),
            F.expr(f"({nagree} * 10000) div n").cast("long").alias("agree_bp"),
            F.expr(
                f"CASE WHEN {den} = 0 THEN CAST(0.0 AS DOUBLE)"
                f" ELSE CAST({num} AS DOUBLE) / CAST({den} AS DOUBLE) END"
            ).alias("kappa"),
        )

    return (
        pair_row("rules_vs_dsir", "nr", "nd", "b_rd", "g_rd")
        .unionByName(pair_row("rules_vs_clf", "nr", "ncf", "b_rc", "g_rc"))
        .unionByName(pair_row("dsir_vs_clf", "nd", "ncf", "b_dc", "g_dc"))
    )


@register(
    "corpus_mixture_temperature",
    oracle="""
    WITH counts AS (
        SELECT lang, count(*) AS n_docs FROM documents GROUP BY 1
    ), rates AS (
        SELECT lang, n_docs,
               sqrt(CAST(min(n_docs) OVER () AS DOUBLE) / n_docs) AS accept_rate
        FROM counts
    ), kept AS (
        SELECT d.lang, count(*) AS n_kept
        FROM documents d JOIN rates r USING (lang)
        WHERE CAST(('0x' || substr(md5('temp' || CAST(doc_id AS VARCHAR)), 1, 8)) AS UBIGINT)
              / 4294967296.0 < r.accept_rate
        GROUP BY 1
    )
    SELECT lang,
           CAST(n_docs AS BIGINT) AS n_docs,
           CAST(coalesce(n_kept, 0) AS BIGINT) AS n_kept,
           (floor(accept_rate * 1000000) / 1000000.0) AS accept_rate,
           (CAST((coalesce(n_kept, 0) * 1000000) // n_docs AS DOUBLE)
            / 1000000.0) AS kept_frac
    FROM rates LEFT JOIN kept USING (lang)
    """,
)
def corpus_mixture_temperature(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-scaled mixture sampling at T = 0.5
    (operators/sampling.py:mixture_temperature), stratified by LANGUAGE —
    the exponent-smoothing pass multilingual corpus builders run to damp
    dominant languages (mBERT/XLM-R). The fixture's sources are exactly
    uniform (rates would all be 1.0 — a vacuous query, rule 7) while its
    language mix is skewed (en ~3.4× fr), so language is the stratum with
    a non-degenerate rate spread at every scale (replication preserves
    proportions). sqrt is IEEE-correctly-rounded in both engines, so the
    rates (and every md5-uniform keep decision) are bit-identical
    cross-engine; a general pow(p, alpha) would not be."""
    from map_reduce_group_spark.operators.sampling import mixture_temperature

    d = load_table(spark, sf_dir, "documents")
    return mixture_temperature(d, "doc_id", "lang").withColumnRenamed("source", "lang")


@register(
    "corpus_train_val_split",
    oracle="""
    WITH s AS (
        SELECT source,
               CASE WHEN u < 0.9 THEN 'train'
                    WHEN u < 0.95 THEN 'val'
                    ELSE 'test' END AS split
        FROM (
            SELECT source,
                   CAST(('0x' || substr(md5('split' || CAST(doc_id AS VARCHAR)), 1, 8)) AS UBIGINT)
                   / 4294967296.0 AS u
            FROM documents
        )
    )
    SELECT source, split,
           CAST(count(*) AS BIGINT) AS n_docs,
           (CAST((CAST(count(*) AS HUGEINT) * 1000000)
                 // sum(count(*)) OVER (PARTITION BY source) AS DOUBLE)
            / 1000000.0) AS frac
    FROM s GROUP BY 1, 2
    """,
)
def corpus_train_val_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/val/test split audit
    (operators/sampling.py:split_assign, 90/5/5): the split is a pure
    md5-uniform function of doc_id — reproducible on any engine and stable
    under corpus growth (documents never migrate splits as data arrives).
    The assignment itself is map-only; this query publishes the per-source
    split-distribution audit a data pipeline records alongside the split."""
    from pyspark.sql import Window as W

    from map_reduce_group_spark.operators.sampling import split_assign

    d = load_table(spark, sf_dir, "documents")
    counts = (
        split_assign(d, "doc_id")
        .groupBy("source", "split")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    per_source = W.partitionBy("source")
    return counts.select(
        "source",
        "split",
        col("n").cast("long").alias("n_docs"),
        F.sum("n").over(per_source).alias("_tot"),
    ).select(
        "source",
        "split",
        "n_docs",
        # DECIMAL(38,0) headroom: n_docs is a corpus-scale count, ×10^6
        # brushes int64 past ~9e12 rows (rule 1 + the BM25 headroom lesson)
        fp_ratio_dec38("n_docs", "_tot").alias("frac"),
    )


@register(
    "doc_token_rarity",
    oracle=f"""
    WITH tok AS (
        SELECT doc_id, unnest({_TOKS_SQL}) AS tok FROM documents
    ), tf AS (
        SELECT doc_id AS id, tok, count(*) AS tf FROM tok GROUP BY 1, 2
    ), vocab AS (
        SELECT tok, CAST(sum(tf) AS BIGINT) AS c FROM tf GROUP BY 1
    ), tot AS (
        SELECT CAST(sum(c) AS BIGINT) AS n FROM vocab
    )
    SELECT id,
           CAST(sum(tf) AS BIGINT) AS n_tokens,
           CAST(sum(tf * ((n * 1024) // c)) AS BIGINT) AS sum_rarity_fp,
           CAST((CAST(sum(tf * ((n * 1024) // c)) AS HUGEINT) * 10000)
                // (CAST(sum(tf) AS HUGEINT) * 1024) AS DOUBLE) / 10000.0
               AS mean_rarity
    FROM tf JOIN vocab USING (tok) CROSS JOIN tot
    GROUP BY id
    """,
)
def doc_token_rarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram-LM rarity score (operators/text.py:unigram_rarity) — the
    CCNet-style perplexity-proxy quality filter as mean inverse token
    frequency, computed in 1/1024 integer fixed point (Spark ``div`` ==
    DuckDB ``//``) so the score is exact and cross-engine deterministic —
    no float log, no order-dependent double sums."""
    d = load_table(spark, sf_dir, "documents")
    return text.unigram_rarity(d, "doc_id", "text")


@register(
    "corpus_sequence_pack",
    oracle=f"""
    WITH t AS (
        SELECT doc_id, len({_TOKS_SQL}) AS n FROM documents
        WHERE len({_TOKS_SQL}) > 0
    ), c AS (
        SELECT doc_id, n,
               sum(n) OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING) - n AS cb
        FROM t
    )
    SELECT doc_id AS id,
           CAST(n AS BIGINT) AS n_tokens,
           CAST(cb // 64 AS BIGINT) AS first_seq,
           CAST((cb + n - 1) // 64 AS BIGINT) AS last_seq,
           CAST((cb + n - 1) // 64 - cb // 64 + 1 AS BIGINT) AS n_seqs
    FROM c
    """,
)
def corpus_sequence_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing (operators/text.py:pack_sequences, seq_len=64):
    concatenate the corpus token stream in doc_id order and split it into
    fixed-length training sequences, assigning each document its sequence-id
    range. The global prefix sum runs as the classic two-pass distributed
    scan (range partition → per-partition subtotals → broadcast offsets →
    partition-local windows); the only driver traffic is one subtotal
    scalar per partition. The oracle replays the identical packing with a
    plain SQL running sum."""
    d = load_table(spark, sf_dir, "documents")
    return text.pack_sequences(d, "doc_id", "text", seq_len=64)


@register(
    "corpus_contamination_check",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, {_TOKS_SQL} AS t FROM documents
    ), sh AS (
        SELECT doc_id, unnest(range(0, greatest(len(t) - 2, 0))) AS pos, t FROM toks
    ), g AS (
        SELECT DISTINCT doc_id,
               t[pos + 1] || ' ' || t[pos + 2] || ' ' || t[pos + 3] AS gram
        FROM sh
    ), bench AS (
        SELECT DISTINCT gram FROM g WHERE doc_id % 97 = 0
    ), tot AS (
        SELECT doc_id, count(*) AS n_grams FROM g WHERE doc_id % 97 <> 0 GROUP BY 1
    ), hits AS (
        SELECT g.doc_id, count(*) AS n_shared
        FROM g JOIN bench USING (gram)
        WHERE g.doc_id % 97 <> 0 GROUP BY 1
    )
    SELECT tot.doc_id AS id,
           CAST(n_grams AS BIGINT) AS n_grams,
           CAST(coalesce(n_shared, 0) AS BIGINT) AS n_shared,
           (CAST((coalesce(n_shared, 0) * 1000000) // greatest(n_grams, 1) AS DOUBLE)
            / 1000000.0) AS overlap_frac,
           coalesce(n_shared, 0) > 0 AS contaminated
    FROM tot LEFT JOIN hits USING (doc_id)
    """,
)
def corpus_contamination_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination sweep
    (operators/dedup.py:benchmark_contamination): per training document,
    the count/fraction of its distinct token n-grams that appear anywhere
    in the held-out benchmark slice (doc_id % 97 — a scale-stable fraction,
    CLAUDE.md rule 7). The benchmark n-gram set is broadcast, so the 100 TB
    corpus side never shuffles for the overlap join. n=3 here because the
    fixture's ~30-word vocabulary makes longer grams vanishingly rare; real
    corpora use the GPT-3-style n=13 default."""
    d = load_table(spark, sf_dir, "documents")
    bench = d.filter(col("doc_id") % 97 == 0)
    corpus = d.filter(col("doc_id") % 97 != 0)
    return dedup.benchmark_contamination(corpus, bench, "doc_id", "text", n=3)


@register(
    "corpus_semantic_contamination",
    oracle="""
    WITH q AS (
        SELECT vec_id,
               list_transform(CAST(embedding AS DOUBLE[]),
                              x -> CAST(floor(x * 1048576) AS BIGINT)) AS qv
        FROM embeddings
    ), n AS (
        SELECT vec_id, qv,
               CAST(list_dot_product(qv, qv) AS BIGINT) AS nrm2
        FROM q
    ), bench AS (
        SELECT vec_id AS b_id, qv AS bv, nrm2 AS bn FROM n WHERE vec_id % 50 = 0
    ), corpus AS (
        SELECT vec_id AS id, qv AS cv, nrm2 AS cn FROM n WHERE vec_id % 50 <> 0
    ), scored AS (
        -- portable quantized cosine: integer dot / (sqrt·sqrt), every
        -- partial sum an exact integer < 2^53 → order-free and
        -- bit-identical to the NumPy kernel; display = floor fixed point
        SELECT c.id, b.b_id,
               (floor(CAST(CAST(list_dot_product(c.cv, b.bv) AS BIGINT) AS DOUBLE)
                      / ((CASE WHEN c.cn = 0 THEN 1.0 ELSE sqrt(CAST(c.cn AS DOUBLE)) END)
                         * (CASE WHEN b.bn = 0 THEN 1.0 ELSE sqrt(CAST(b.bn AS DOUBLE)) END))
                      * 100000) / 100000.0) AS cos
        FROM corpus c CROSS JOIN bench b
    ), best AS (
        SELECT id, b_id AS bench_id, cos,
               row_number() OVER (PARTITION BY id ORDER BY cos DESC, b_id) AS rn
        FROM scored
    )
    SELECT id, bench_id, cos, cos >= 0.4 AS contaminated
    FROM best WHERE rn = 1
    """,
)
def corpus_semantic_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SEMANTIC benchmark decontamination (VERDICT r8 #3), completing the
    two-pass decontamination suite beside the n-gram sweep above
    (operators/similarity.py:semantic_contamination): per training vector,
    the most-similar benchmark item by embedding cosine and a contaminated
    flag at cosine ≥ 0.4 — the pass that catches PARAPHRASED benchmark
    leakage n-gram overlap structurally misses (GPT-3 App. C n-gram
    convention → Llama/DataComp-era semantic sweeps; planted-paraphrase
    property test in tests/test_semantic_contamination.py). Benchmark
    slice = vec_id % 50 (scale-stable fraction, rule 7); the bench matrix
    is collected-and-broadcast (bounded, megabytes vs 100 TB), the corpus
    streams through one narrow Arrow mapInPandas matmul — zero shuffles,
    one output row per corpus vector."""
    e = load_table(spark, sf_dir, "embeddings")
    return similarity.semantic_contamination(
        e.filter(col("vec_id") % 50 != 0),
        e.filter(col("vec_id") % 50 == 0),
        threshold=0.4,
    )


@register(
    "corpus_span_dedup",
    oracle=f"""
    WITH t AS (
        SELECT doc_id, {_TOKS_SQL} AS toks,
               CAST(greatest(ceil(len({_TOKS_SQL}) / 16.0), 1) AS INTEGER) AS nc
        FROM documents
    ), flat AS (
        SELECT doc_id, unnest(range(0, nc)) AS sid, toks FROM t
    ), spans AS (
        SELECT doc_id, sid,
               md5(array_to_string(list_slice(toks, sid*16 + 1, sid*16 + 16), ' ')) AS h
        FROM flat
    ), marked AS (
        SELECT doc_id,
               CASE WHEN row_number() OVER (PARTITION BY h ORDER BY doc_id, sid) = 1
                    THEN 1 ELSE 0 END AS kept
        FROM spans
    )
    SELECT doc_id AS id,
           count(*) AS n_spans,
           CAST(sum(kept) AS BIGINT) AS n_kept,
           (CAST(((count(*) - sum(kept)) * 1000000) // count(*) AS DOUBLE)
            / 1000000.0) AS removed_frac
    FROM marked GROUP BY 1
    """,
)
def corpus_span_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4/CCNet-style cross-corpus span dedup
    (operators/dedup.py:span_dedup_stats, 16-token spans): hash every
    non-overlapping token span and keep only its first corpus-wide
    occurrence — the pass that strips boilerplate shared ACROSS documents,
    which document-level dedup cannot see. First-occurrence selection is a
    map-side-combining min(struct) aggregate, not a window over the span
    hash, so hot boilerplate spans don't funnel one partition."""
    d = load_table(spark, sf_dir, "documents")
    return dedup.span_dedup_stats(d, "doc_id", "text", span_tokens=16)




@register(
    "doc_pii_scrub",
    oracle=f"""
    WITH injected AS (
        SELECT doc_id, {_PII_INJECT_SQL} AS t FROM documents
    )
    SELECT doc_id,
           len(regexp_extract_all(t, '[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{{2,}}')) AS n_emails,
           len(regexp_extract_all(t, '\\b\\d{{3}}-\\d{{4}}\\b'))                  AS n_phones,
           len(regexp_extract_all(t, '\\b\\d{{1,3}}\\.\\d{{1,3}}\\.\\d{{1,3}}\\.\\d{{1,3}}\\b')) AS n_ipv4,
           (len(regexp_extract_all(t, '[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{{2,}}'))
            + len(regexp_extract_all(t, '\\b\\d{{3}}-\\d{{4}}\\b'))
            + len(regexp_extract_all(t, '\\b\\d{{1,3}}\\.\\d{{1,3}}\\.\\d{{1,3}}\\.\\d{{1,3}}\\b'))) > 0 AS has_pii,
           regexp_replace(
               regexp_replace(
                   regexp_replace(t, '[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{{2,}}', '<EMAIL>', 'g'),
                   '\\b\\d{{3}}-\\d{{4}}\\b', '<PHONE>', 'g'),
               '\\b\\d{{1,3}}\\.\\d{{1,3}}\\.\\d{{1,3}}\\.\\d{{1,3}}\\b', '<IP>', 'g') AS clean_text
    FROM injected
    """,
)
def doc_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII detection + redaction (operators/text.py:PII_PATTERNS) — the
    pre-training scrub pass: count emails / phone numbers / IPv4 addresses
    and emit the globally-redacted text. The fixture corpus carries no PII,
    so the query first plants deterministic doc_id-derived PII into fixed
    doc_id-modulus slices (scale-stable fractions: 1/3 email, 1/5 phone,
    1/7 IP — CLAUDE.md rule 7) and both engines replay the identical
    injection; the value hash then verifies the redacted text byte-for-byte.
    Map-only plan, all regexp built-ins, zero shuffles."""
    d = load_table(spark, sf_dir, "documents")
    injected = _inject_pii(col("doc_id"), col("text"))
    t = d.select("doc_id", injected.alias("t"))
    counts = text.pii_counts("t")
    return t.select(
        "doc_id",
        counts["email"].alias("n_emails"),
        counts["phone"].alias("n_phones"),
        counts["ipv4"].alias("n_ipv4"),
        (counts["email"] + counts["phone"] + counts["ipv4"] > 0).alias("has_pii"),
        text.scrub_pii("t").alias("clean_text"),
    )


@register(
    "doc_repetition_signals",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, {_TOKS_SQL} AS t FROM documents
    ), ex AS (
        SELECT doc_id, unnest(range(0, len(t))) AS pos, t FROM toks
    ), grams AS (
        SELECT doc_id,
               t[pos + 1] AS tok,
               CASE WHEN pos + 2 <= len(t)
                    THEN t[pos + 1] || ' ' || t[pos + 2] END AS gram
        FROM ex
    ), tokc AS (
        SELECT doc_id, tok, count(*) AS c FROM grams GROUP BY 1, 2
    ), gramc AS (
        SELECT doc_id, gram, count(*) AS c FROM grams
        WHERE gram IS NOT NULL GROUP BY 1, 2
    ), ts AS (
        -- CAST: DuckDB sum(BIGINT) -> HUGEINT -> pandas float64, which the
        -- driver stringifies as "N.0" vs Spark's int "N" (q12 failure class)
        SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_tokens,
               CAST(((sum(c) - count(*)) * 10000) // sum(c) AS DOUBLE)
                   / 10000.0 AS dup_token_frac,
               CAST((max(c) * 10000) // sum(c) AS DOUBLE)
                   / 10000.0 AS top_token_frac
        FROM tokc GROUP BY 1
    ), gs AS (
        SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_2grams,
               CAST(((sum(c) - count(*)) * 10000) // sum(c) AS DOUBLE)
                   / 10000.0 AS dup_2gram_frac,
               CAST((max(c) * 10000) // sum(c) AS DOUBLE)
                   / 10000.0 AS top_2gram_frac
        FROM gramc GROUP BY 1
    )
    SELECT d.doc_id AS id,
           coalesce(n_tokens, 0)        AS n_tokens,
           coalesce(dup_token_frac, 0)  AS dup_token_frac,
           coalesce(top_token_frac, 0)  AS top_token_frac,
           coalesce(n_2grams, 0)        AS n_2grams,
           coalesce(dup_2gram_frac, 0)  AS dup_2gram_frac,
           coalesce(top_2gram_frac, 0)  AS top_2gram_frac
    FROM (SELECT DISTINCT doc_id FROM documents) d
    LEFT JOIN ts USING (doc_id) LEFT JOIN gs USING (doc_id)
    """,
)
def doc_repetition_signals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style within-document repetition quality signals
    (operators/text.py:repetition_signals): duplicate/top token and 2-gram
    fractions — the filter family that removes boilerplate/keyword-stuffed
    documents BEFORE cross-document dedup in an LLM corpus pipeline. All
    shuffles keyed by doc id, so the plan scales by document count."""
    d = load_table(spark, sf_dir, "documents")
    return text.repetition_signals(d, "doc_id", "text")


@register(
    "doc_winnow_fingerprints",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, {_TOKS_SQL} AS t FROM documents
    ), sh AS (
        SELECT doc_id,
               unnest(range(0, greatest(len(t) - 2, 0))) AS pos,
               t
        FROM toks
    ), hashed AS (
        SELECT doc_id, pos,
               md5(t[pos + 1] || ' ' || t[pos + 2] || ' ' || t[pos + 3]) AS h
        FROM sh
    ), winnowed AS (
        SELECT doc_id, pos,
               min(h) OVER (PARTITION BY doc_id ORDER BY pos
                            ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS fp,
               count(*) OVER (PARTITION BY doc_id) AS m
        FROM hashed
    )
    SELECT DISTINCT doc_id AS id, fp
    FROM winnowed
    WHERE pos <= greatest(m - 4, 0)
    """,
)
def doc_winnow_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing (rolling k-gram hash + per-window minimum) document
    fingerprints — the Moss-style copy-detection fingerprint set
    (operators/text.py:winnow_fingerprints, k=3 token-grams, window w=4).
    Any shared token run of ≥ 6 tokens between two documents is guaranteed
    to surface as a shared fingerprint while only ~2/(w+1) of the k-gram
    hashes are stored — the scale trade that makes corpus-wide
    copy-detection a groupBy(fp) instead of an all-pairs comparison. The
    window minimum compares md5 HEX STRINGS (lexicographic), so the DuckDB
    oracle replays the identical selection."""
    d = load_table(spark, sf_dir, "documents")
    return text.winnow_fingerprints(d, "doc_id", "text", k=3, w=4)


@register(
    "sample_stratified_cap",
    oracle="""
    SELECT doc_id, source, sel_rank
    FROM (
        SELECT doc_id, source,
               row_number() OVER (
                   PARTITION BY source
                   ORDER BY CAST(('0x' || substr(md5('cap' || CAST(doc_id AS VARCHAR)), 1, 8))
                                 AS UBIGINT) / 4294967296.0,
                            doc_id
               ) AS sel_rank
        FROM documents
    ) WHERE sel_rank <= 40
    """,
)
def sample_stratified_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Balanced per-source cap (operators/sampling.py:stratified_cap): at
    most 40 docs per source, chosen by deterministic content-hash order —
    the anti-domination cap of a mixture builder, re-derivable on any
    engine (the DuckDB oracle replays the same md5-uniform ranking).
    WindowGroupLimit bounds the shuffle to cap rows per stratum per task."""
    from map_reduce_group_spark.operators.sampling import stratified_cap

    d = load_table(spark, sf_dir, "documents")
    return stratified_cap(d, "doc_id", "source", cap=40).select(
        "doc_id", "source", F.col("sel_rank").cast("long").alias("sel_rank")
    )


@register(
    "sketch_cms_cells",
    oracle=f"""
    WITH toks AS (
        SELECT unnest({_TOKS_SQL}) AS tok FROM documents
    ), counts AS (
        SELECT CAST(tok AS VARCHAR) AS key, count(*) AS n FROM toks GROUP BY 1
    ), cells AS (
        SELECT CAST(r.r * 1024 AS BIGINT)
               + CAST(('0x' || substr(md5(CAST(r.r AS VARCHAR) || ':' || key), 1, 16))::UBIGINT % 1024 AS BIGINT)
               AS cell,
           sum(n) AS cnt
        FROM counts CROSS JOIN range(0, 4) r(r)
        GROUP BY 1
    )
    SELECT cell, CAST(cnt AS BIGINT) AS cnt FROM cells
    """,
)
def sketch_cms_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The merged 4×1024 count-min matrix over the corpus token stream
    (operators/sketches.py:cms_sketch_cells) — the deterministic core of
    the sketch under the full oracle gate: the matrix assembled from
    per-batch partial sketches (one Arrow pass, ≤ d·w rows per batch, one
    groupBy merge) must equal the matrix DuckDB rebuilds from EXACT token
    counts, because CMS is linear and every cell address is the same
    ``int(md5('{{row}}:{{key}}')[:8]) % width`` in both engines. Output is
    bounded by d·w = 4096 rows at any data scale — the fixed-size-summary
    property that makes the sketch usable where the key space cannot be
    shuffled. The heavy-hitter ranking on top is oracle-checked too since
    r6 (`sketch_heavy_hitter_tokens`: exact top-k by estimate over this
    same matrix)."""
    from map_reduce_group_spark.operators.sketches import cms_sketch_cells

    d = load_table(spark, sf_dir, "documents")
    toks = d.select(F.explode(tokens("text")).alias("tok"))
    return cms_sketch_cells(toks, "tok", depth=4, width=1024)


@register(
    "sketch_heavy_hitter_tokens",
    oracle=f"""
    WITH toks AS (
        SELECT unnest({_TOKS_SQL}) AS tok FROM documents
    ), counts AS (
        SELECT CAST(tok AS VARCHAR) AS key, count(*) AS n FROM toks GROUP BY 1
    ), cells AS (
        SELECT r.r AS r,
               CAST(('0x' || substr(md5(CAST(r.r AS VARCHAR) || ':' || key), 1, 16))::UBIGINT % 1024 AS BIGINT) AS c,
               sum(n) AS cnt
        FROM counts CROSS JOIN range(0, 4) r(r)
        GROUP BY 1, 2
    ), est AS (
        SELECT k0.key, min(ce.cnt) AS est_count
        FROM counts k0 CROSS JOIN range(0, 4) r(r)
        JOIN cells ce
          ON ce.r = r.r
         AND ce.c = CAST(('0x' || substr(md5(CAST(r.r AS VARCHAR) || ':' || k0.key), 1, 16))::UBIGINT % 1024 AS BIGINT)
        GROUP BY 1
    )
    SELECT key, CAST(est_count AS BIGINT) AS est_count, CAST(rank AS BIGINT) AS rank
    FROM (
        SELECT key, est_count,
               row_number() OVER (ORDER BY est_count DESC, key) AS rank
        FROM est
    ) WHERE rank <= 10
    """,
)
def sketch_heavy_hitter_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min-sketch heavy hitters over the corpus token stream —
    RECONTRACTED to the deterministic oracle-checked form (VERDICT r5 #3,
    operators/sketches.py:cms_topk_estimates): top-10 tokens by CMS
    estimate over the merged 4×1024 matrix, every distinct key estimated
    (min over its d md5-addressed cells), ranked (est DESC, key ASC). The
    merged matrix was already oracle-proven (`sketch_cms_cells`); this
    closes the loop by having DuckDB rebuild the matrix from exact counts
    and replay the ranking, so the whole sketch→estimate→rank pipeline is
    hash-checked. The batch-local candidate-pool variant
    (sketches.cms_heavy_hitters) remains for key spaces too large to
    shuffle, with its property-test backstop."""
    from map_reduce_group_spark.operators.sketches import cms_topk_estimates

    d = load_table(spark, sf_dir, "documents")
    toks = d.select(F.explode(tokens("text")).alias("tok"))
    return cms_topk_estimates(toks, "tok", k=10)


@register(
    "embed_ann_ivf_quantized",
    oracle=f"""
    WITH raw AS (
        SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
    ), e AS (
        -- the dequantized vectors; a nested WITH keeps the quantizer's
        -- ``u`` apart from the LSH chain's
        WITH {_int8_ctes("raw", dequantize=True)}
        SELECT id AS vec_id, v FROM deq
    ), {_LSH_BUCKET_CTES.strip()}, {_IVF_PAIRS_CTES}"""
    + _IVF_TOP5_SQL,
)
def embed_ann_ivf_quantized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantized ANN end-to-end: the corpus lives as int8 codes (4× smaller
    — operators/similarity.py:quantize_embeddings), vectors are
    reconstructed on the fly (dequantize, map-only with broadcast scales),
    and IVF/LSH bucketed search runs over the reconstruction — the
    composition a memory-bound 100 TB vector store actually deploys
    (store codes, search reconstructions; recall cost of int8 measured at
    ~2% by embed_quantized_topk_agreement). Round-4 recontract: every stage
    is a fixed IEEE/integer op sequence (quantize and dequantize already
    hash-proven by embed_quantize_int8 / embed_quantized_topk_agreement;
    bucketing now portable fixed-point), so the DuckDB oracle replays
    quantize → reconstruct → bucket → probe → rank end-to-end (formerly
    rows-only with "bucket geometry engine-private")."""
    e = load_table(spark, sf_dir, "embeddings")
    env = similarity.dimension_envelope(e)
    mn, mx = env
    deq = similarity.dequantize_embeddings(
        similarity.quantize_embeddings(e), mn, mx
    )
    q = deq.filter(col("id") % 50 == 0)
    return similarity.ivf_topk(q, deq, id_col="id", vec_col="v", k=5)


@register(
    "corpus_duplicated_spans",
    oracle=f"""
    WITH t AS (
        SELECT doc_id, {_TOKS_SQL} AS toks FROM documents
    ), g AS (
        SELECT doc_id, i - 1 AS pos,
               md5(list_aggregate(toks[i:i+7], 'string_agg', ' ')) AS fp
        FROM t, unnest(range(1, len(toks) - 6)) AS u(i)
    ), dup AS (
        SELECT fp FROM g GROUP BY fp HAVING count(*) > 1
    ), hits AS (
        SELECT doc_id, pos FROM g JOIN dup USING (fp)
    ), isl AS (
        SELECT doc_id, pos,
               CASE WHEN lag(pos) OVER w IS NULL OR pos - lag(pos) OVER w > 8
                    THEN 1 ELSE 0 END AS ni
        FROM hits WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
    ), isl2 AS (
        SELECT doc_id, pos,
               sum(ni) OVER (PARTITION BY doc_id ORDER BY pos
                             ROWS UNBOUNDED PRECEDING) AS island
        FROM isl
    )
    SELECT doc_id AS id,
           CAST(min(pos) AS BIGINT)          AS span_start,
           CAST(max(pos) + 7 AS BIGINT)      AS span_end,
           CAST(max(pos) + 8 - min(pos) AS BIGINT) AS span_len
    FROM isl2 GROUP BY doc_id, island
    """,
)
def corpus_duplicated_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-substring duplicated spans (operators/dedup.py:duplicated_spans,
    8-token grams): the Lee-et-al substring-dedup pass at fixed granularity
    — positions of any 8-gram occurring twice anywhere, merged into maximal
    per-doc spans. Three compact-key shuffles (doc-keyed gram windows,
    fingerprint counts, per-doc island merge); the corpus text never
    shuffles. ~4.5% of fixture 8-grams are natural duplicates (boilerplate
    phrasing), so the result is non-degenerate and grows with clone
    families (rule 7)."""
    d = load_table(spark, sf_dir, "documents")
    return dedup.duplicated_spans(d, "doc_id", "text", n=8)


@register(
    "corpus_span_cut",
    oracle=f"""
    WITH t AS (
        SELECT doc_id, {_TOKS_SQL} AS toks FROM documents
    ), tok AS (
        SELECT doc_id, i - 1 AS pos, toks[i] AS tok
        FROM t, unnest(range(1, len(toks) + 1)) AS u(i)
    ), g AS (
        SELECT doc_id, i - 1 AS pos,
               md5(list_aggregate(toks[i:i+7], 'string_agg', ' ')) AS fp
        FROM t, unnest(range(1, len(toks) - 6)) AS u(i)
    ), dup AS (
        SELECT fp FROM g GROUP BY fp HAVING count(*) > 1
    ), cov AS (
        SELECT DISTINCT doc_id, g.pos + v AS pos
        FROM g JOIN dup USING (fp), unnest(range(0, 8)) AS w(v)
    ), kept AS (
        SELECT tok.doc_id, tok.pos, tok.tok
        FROM tok ANTI JOIN cov USING (doc_id, pos)
    ), agg AS (
        SELECT doc_id,
               string_agg(tok, ' ' ORDER BY pos) AS clean_text,
               count(*)                          AS n_kept
        FROM kept GROUP BY doc_id
    )
    SELECT t.doc_id                                        AS id,
           CAST(len(toks) AS BIGINT)                       AS n_tokens,
           CAST(len(toks) - coalesce(n_kept, 0) AS BIGINT) AS n_cut,
           md5(coalesce(clean_text, ''))                   AS clean_md5
    FROM t LEFT JOIN agg USING (doc_id)
    """,
)
def corpus_span_cut(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The APPLY step of substring dedup (operators/dedup.py:
    cut_duplicated_spans): corpus_duplicated_spans finds where the corpus
    repeats itself; this pass cuts every covered token and digests the
    surviving text (remove-all-copies variant — the deterministic one).
    Compact-key shuffles only; reassembly is native-codegen
    array_sort + GetArrayStructFields + array_join, zero interpreted
    lambdas. Cut fraction is duplication-relative, so non-degenerate at
    every scale (rule 7)."""
    d = load_table(spark, sf_dir, "documents")
    return dedup.cut_duplicated_spans(d, "doc_id", "text", n=8)


@register(
    "text_topk_bigrams_by_lang",
    oracle=f"""
    WITH t AS (
        SELECT lang, {_TOKS_SQL} AS toks FROM documents
    ), big AS (
        SELECT lang, toks[i] || ' ' || toks[i+1] AS bigram
        FROM t, unnest(range(1, len(toks))) AS u(i)
    ), c AS (
        SELECT lang, bigram, count(*) AS n_occurrences
        FROM big GROUP BY lang, bigram
    ), r AS (
        SELECT lang, bigram, n_occurrences,
               row_number() OVER (PARTITION BY lang
                                  ORDER BY n_occurrences DESC, bigram ASC) AS rnk
        FROM c
    )
    SELECT lang, bigram, CAST(n_occurrences AS BIGINT) AS n_occurrences,
           CAST(rnk AS BIGINT) AS rnk
    FROM r WHERE rnk <= 5
    """,
)
def text_topk_bigrams_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-5 bigrams per language — per-group heavy hitters, exact, the
    corpus-inspection primitive behind boilerplate mining and n-gram LM
    stats. posexplode + lead window builds bigrams (rule 2 shape, no
    interpreted lambdas), partial-agg count, WindowGroupLimit-prunable
    row_number top-k with a deterministic (count DESC, bigram ASC)
    tie-break. Top-k is data-relative (rule 7)."""
    from pyspark.sql import Window

    d = load_table(spark, sf_dir, "documents")
    t = d.select("doc_id", "lang", F.posexplode(tokens("text")).alias("pos", "tok"))
    per_doc = Window.partitionBy("doc_id").orderBy("pos")
    big = (
        t.select(
            "lang",
            F.concat_ws(" ", "tok", F.lead("tok", 1).over(per_doc)).alias("bigram"),
            F.lead("tok", 1).over(per_doc).alias("nxt"),
        )
        .filter(col("nxt").isNotNull())
        .drop("nxt")
    )
    c = big.groupBy("lang", "bigram").agg(F.count(F.lit(1)).alias("n_occurrences"))
    w = Window.partitionBy("lang").orderBy(col("n_occurrences").desc(), col("bigram").asc())
    return (
        c.withColumn("rnk", F.row_number().over(w))
        .filter(col("rnk") <= 5)
        .select("lang", "bigram", "n_occurrences", col("rnk").cast("long").alias("rnk"))
    )


@register(
    "graph_triangle_census",
    oracle=f"""
    WITH {_shingle_ctes(cap=0.01)}, pair_counts AS ({_pair_counts("capped")}
    ), edges AS (
        SELECT id_a, id_b FROM pair_counts WHERE {_JACCARD_MIN_SQL.format(t=0.05)}
    ), verts AS (
        SELECT id, count(*) AS deg FROM (
            SELECT id_a AS id FROM edges UNION ALL SELECT id_b FROM edges
        ) GROUP BY id
    ), tri AS (
        SELECT count(*) AS n_triangles
        FROM edges e1
        JOIN edges e2 ON e2.id_a = e1.id_b
        JOIN edges e3 ON e3.id_a = e1.id_a AND e3.id_b = e2.id_b
    ), wed AS (
        SELECT sum(deg * (deg - 1) / 2) AS n_wedges,
               count(*) AS n_vertices
        FROM verts
    )
    SELECT CAST(w.n_vertices AS BIGINT)            AS n_vertices,
           (SELECT CAST(count(*) AS BIGINT) FROM edges) AS n_edges,
           CAST(w.n_wedges AS BIGINT)              AS n_wedges,
           CAST(t.n_triangles AS BIGINT)           AS n_triangles,
           CASE WHEN w.n_wedges = 0 THEN 0.0
                ELSE 3.0 * t.n_triangles / w.n_wedges END AS clustering_coeff
    FROM tri t, wed w
    """,
)
def graph_triangle_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle census + global clustering coefficient over the df-CAPPED
    3-gram-Jaccard similarity graph (the dedup_ngram_jaccard_capped edge
    list — the declared 100 TB near-dup plan; the cap is replicated in the
    oracle, so the graph is identical in both engines): near-dup families
    form near-cliques, so triangle density measures how clique-like the
    duplicate structure is — the standard graph-quality signal before
    collapsing clusters. Compact-key plan: edges stored once as (a < b)
    pairs, triangles by the canonical two-hop join (a<b<c counted exactly
    once), wedges from the degree table in integer arithmetic — the one
    division happens on two exact BIGINTs at the very end (rule 1). At
    100 TB the edge list is the near-dup pair output (orders of magnitude
    smaller than the corpus); the triangle join shuffles edge keys only.
    Single-row summary output, driver-friendly at any scale.

    Round-4 scale rewrite: the census is computed COMBINATORIALLY over the
    identical-set-collapsed graph instead of joining the expanded edge
    list. An identical-set group of g docs is a g-clique (within-group
    Jaccard n_kept/(2s−n_kept), when ≥ t) and a qualifying rep pair (a,b)
    expands to a complete bipartite g_a×g_b — so every census statistic
    has a closed form over the REP graph plus group sizes:

      degree(member of a)  = Σ_{b∼a} g_b + w_a·(g_a−1)
      n_edges              = Σ_{a∼b} g_a·g_b + Σ_a w_a·C(g_a,2)
      n_wedges             = Σ_active g_a·C(d_a,2)
      n_triangles          = Σ_{rep triangles} g_a·g_b·g_c
                           + Σ_{a∼b} [w_a·C(g_a,2)·g_b + w_b·C(g_b,2)·g_a]
                           + Σ_a w_a·C(g_a,3)

    (w_a = within-group edges qualify; ∼ = rep edge.) Exact integers, and
    the only triangle join runs over REP edges — on a clone-replicated
    corpus that is smaller than the expanded edge list by the g² clone
    factor (measured: the expanded-join plan burned 20+ min at the 100×
    fixture; this completes with the rep graph at base-corpus scale). The
    sf0.01 driver oracle stays the naive expanded triangle join, proving
    the collapse changes nothing."""
    from pyspark import StorageLevel

    d = load_table(spark, sf_dir, "documents")
    # persist: postings feed the identical-set aggregation AND the rep-
    # filtered verification join — one tokenize+df-cap head for both (the
    # unpersisted plan held 132 copies of the documents scan, zero
    # ReusedExchange; guide §2.4)
    postings = dedup.capped_postings(
        d, "doc_id", "text", n=3, max_doc_frac=0.01
    ).persist(StorageLevel.MEMORY_AND_DISK)
    members, rpost = dedup._identical_set_members(postings)
    rep_pairs = dedup._jaccard_from_counts(dedup._pair_counts(rpost), 0.05)

    groups = (
        members.groupBy("rep", "set_size", "n_kept")
        .agg(F.count(F.lit(1)).alias("g"))
        .withColumn(
            "w",
            (
                (col("n_kept") / (col("set_size") * 2 - col("n_kept"))) >= 0.05
            ).cast("long"),
        )
        .select("rep", "g", "w")
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    redges = rep_pairs.select("id_a", "id_b").persist(StorageLevel.MEMORY_AND_DISK)

    ga = groups.select(col("rep").alias("id_a"), col("g").alias("g_a"), col("w").alias("w_a"))
    gb = groups.select(col("rep").alias("id_b"), col("g").alias("g_b"), col("w").alias("w_b"))
    ewe = redges.join(ga, "id_a").join(gb, "id_b").persist(StorageLevel.MEMORY_AND_DISK)

    # per-rep neighbor mass Σ g_b, then member degree d_a
    nbr = (
        ewe.select(col("id_a").alias("rep"), col("g_b").alias("gn"))
        .unionByName(ewe.select(col("id_b").alias("rep"), col("g_a").alias("gn")))
        .groupBy("rep")
        .agg(F.sum("gn").alias("nmass"))
    )
    deg = (
        groups.join(nbr, "rep", "left")
        .select(
            "rep",
            "g",
            "w",
            (
                F.coalesce(col("nmass"), F.lit(0)) + col("w") * (col("g") - 1)
            ).alias("d"),
        )
    )
    active = deg.filter(col("d") > 0)
    # d·(d−1) div 2 in integer arithmetic (d can be large at scale; the
    # double-division form loses exactness past 2^53)
    wed = active.agg(
        F.sum(col("g") * F.expr("(d * (d - 1)) div 2")).alias("n_wedges"),
        F.sum("g").alias("n_vertices"),
    )
    edge_counts = ewe.agg(
        F.sum(col("g_a") * col("g_b")).alias("cross_edges"),
        F.sum(
            col("w_a") * (col("g_a") * (col("g_a") - 1) / 2).cast("long") * col("g_b")
            + col("w_b") * (col("g_b") * (col("g_b") - 1) / 2).cast("long") * col("g_a")
        ).alias("tri_two_group"),
    )
    within_counts = groups.agg(
        F.sum(col("w") * (col("g") * (col("g") - 1) / 2).cast("long")).alias("within_edges"),
        F.sum(
            col("w")
            * (col("g") * (col("g") - 1) * (col("g") - 2) / 6).cast("long")
        ).alias("tri_one_group"),
    )
    e1 = ewe.select(col("id_a").alias("a"), col("id_b").alias("b"), col("g_a"), col("g_b"))
    e2 = redges.select(col("id_a").alias("b"), col("id_b").alias("c"))
    e3 = redges.select(col("id_a").alias("a"), col("id_b").alias("c"))
    gc = groups.select(col("rep").alias("c"), col("g").alias("g_c"))
    tri3 = (
        e1.join(e2, "b")
        .join(e3, ["a", "c"])
        .join(gc, "c")
        .agg(F.sum(col("g_a") * col("g_b") * col("g_c")).alias("tri_three_group"))
    )
    return (
        wed.crossJoin(edge_counts)
        .crossJoin(within_counts)
        .crossJoin(tri3)
        .select(
            F.coalesce(col("n_vertices"), F.lit(0)).cast("long").alias("n_vertices"),
            (
                F.coalesce(col("cross_edges"), F.lit(0))
                + F.coalesce(col("within_edges"), F.lit(0))
            ).cast("long").alias("n_edges"),
            F.coalesce(col("n_wedges"), F.lit(0)).cast("long").alias("n_wedges"),
            (
                F.coalesce(col("tri_three_group"), F.lit(0))
                + F.coalesce(col("tri_two_group"), F.lit(0))
                + F.coalesce(col("tri_one_group"), F.lit(0))
            ).cast("long").alias("n_triangles"),
            F.when(F.coalesce(col("n_wedges"), F.lit(0)) == 0, F.lit(0.0))
            .otherwise(
                F.lit(3.0)
                * (
                    F.coalesce(col("tri_three_group"), F.lit(0))
                    + F.coalesce(col("tri_two_group"), F.lit(0))
                    + F.coalesce(col("tri_one_group"), F.lit(0))
                )
                / col("n_wedges")
            )
            .alias("clustering_coeff"),
        )
    )


@register(
    "corpus_data_card",
    oracle=f"""
    WITH t AS (
        SELECT doc_id, lang,
               md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS f,
               len({_TOKS_SQL}) AS n_tokens
        FROM documents
    ), base AS (
        SELECT count(*)            AS n_docs,
               count(DISTINCT f)   AS n_unique,
               sum(n_tokens)       AS total_tokens,
               count(DISTINCT lang) AS n_langs
        FROM t
    ), lang_top AS (
        SELECT lang AS top_lang, count(*) AS top_lang_docs
        FROM t GROUP BY lang
        ORDER BY count(*) DESC, lang ASC LIMIT 1
    ), hist AS (
        SELECT n_tokens, count(*) AS c FROM t GROUP BY n_tokens
    ), cum AS (
        SELECT n_tokens,
               sum(c) OVER (ORDER BY n_tokens ROWS UNBOUNDED PRECEDING) AS cc,
               sum(c) OVER ()                                           AS n
        FROM hist
    ), pct AS (
        SELECT min(CASE WHEN cc >= ceil(0.5 * n)  THEN n_tokens END) AS p50_tokens,
               min(CASE WHEN cc >= ceil(0.95 * n) THEN n_tokens END) AS p95_tokens
        FROM cum
    )
    SELECT CAST(b.n_docs AS BIGINT)        AS n_docs,
           CAST(b.n_unique AS BIGINT)      AS n_unique_docs,
           1.0 - b.n_unique / CAST(b.n_docs AS DOUBLE) AS dup_fraction,
           CAST(b.total_tokens AS BIGINT)  AS total_tokens,
           CAST(b.n_langs AS BIGINT)       AS n_langs,
           l.top_lang,
           CAST(l.top_lang_docs AS BIGINT) AS top_lang_docs,
           CAST(p.p50_tokens AS BIGINT)    AS p50_tokens,
           CAST(p.p95_tokens AS BIGINT)    AS p95_tokens
    FROM base b, lang_top l, pct p
    """,
)
def corpus_data_card(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-row corpus datasheet — the numbers a dataset card reports before
    training: volume (docs, tokens), exact-duplicate fraction (distinct
    content fingerprints vs rows), language mix (count + deterministic
    argmax: docs DESC, lang ASC), and token-length p50/p95 via an exact
    VALUE-HISTOGRAM percentile: group by token count (distinct lengths are
    bounded by max doc length, not corpus size), one cumulative window over
    that tiny histogram, pick the first value at-or-past ceil(q·n) — the
    engine-builtin-free percentile_disc of events_inter_arrival_stats
    without its global sort, so it holds at any corpus size. Everything is
    integer-exact with two final divisions; every statistic is
    data-relative (rule 7). Three 1-row frames broadcast-crossed into the
    card; single row out."""
    from pyspark.sql import Window as W

    from map_reduce_group_spark.operators.text import fingerprint, token_count

    d = load_table(spark, sf_dir, "documents")
    t = d.select(
        "lang", fingerprint("text").alias("f"), token_count("text").alias("n_tokens")
    )
    base = t.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.countDistinct("f").alias("n_unique_docs"),
        F.sum("n_tokens").alias("total_tokens"),
        F.countDistinct("lang").alias("n_langs"),
    )
    lang_top = (
        t.groupBy("lang")
        .agg(F.count(F.lit(1)).alias("top_lang_docs"))
        .orderBy(col("top_lang_docs").desc(), col("lang").asc())
        .limit(1)
        .select(col("lang").alias("top_lang"), "top_lang_docs")
    )
    hist = t.groupBy("n_tokens").agg(F.count(F.lit(1)).alias("c"))
    cum = hist.select(
        "n_tokens",
        F.sum("c")
        .over(W.orderBy("n_tokens").rowsBetween(W.unboundedPreceding, 0))
        .alias("cc"),
        F.sum("c").over(W.partitionBy()).alias("n"),
    )
    pct = cum.agg(
        F.min(F.when(col("cc") >= F.ceil(0.5 * col("n")), col("n_tokens"))).alias(
            "p50_tokens"
        ),
        F.min(F.when(col("cc") >= F.ceil(0.95 * col("n")), col("n_tokens"))).alias(
            "p95_tokens"
        ),
    )
    return (
        base.crossJoin(lang_top)
        .crossJoin(pct)
        .select(
            col("n_docs").cast("long").alias("n_docs"),
            col("n_unique_docs").cast("long").alias("n_unique_docs"),
            (
                F.lit(1.0) - col("n_unique_docs") / col("n_docs").cast("double")
            ).alias("dup_fraction"),
            col("total_tokens").cast("long").alias("total_tokens"),
            col("n_langs").cast("long").alias("n_langs"),
            "top_lang",
            col("top_lang_docs").cast("long").alias("top_lang_docs"),
            col("p50_tokens").cast("long").alias("p50_tokens"),
            col("p95_tokens").cast("long").alias("p95_tokens"),
        )
    )


@register(
    "dedup_suffix_longest_span",
    oracle=f"""
    WITH t AS (
        SELECT doc_id, {_TOKS_SQL} AS toks FROM documents
    ), spans AS (
        SELECT doc_id, n,
               md5(list_aggregate(toks[i:i+n-1], 'string_agg', ' ')) AS fp
        FROM t,
             unnest(generate_series(1, least(32, len(toks)))) AS q(n),
             unnest(generate_series(1, len(toks) - n + 1)) AS s(i)
    ), shared AS (
        SELECT fp FROM spans GROUP BY fp HAVING count(DISTINCT doc_id) > 1
    ), docmax AS (
        SELECT s.doc_id, max(s.n) AS m
        FROM spans s JOIN shared USING (fp) GROUP BY s.doc_id
    )
    SELECT d.doc_id, CAST(coalesce(m.m, 0) AS BIGINT) AS max_shared_len
    FROM documents d LEFT JOIN docmax m USING (doc_id)
    """,
)
def dedup_suffix_longest_span(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Capped suffix array: per document, the length of the LONGEST token
    span shared verbatim with another document (≤ 32) — the variable-length
    exact-substring dedup primitive of Lee et al. 2021 (arXiv:2107.06499),
    which the fixed-n fingerprint passes (corpus_duplicated_spans /
    corpus_span_cut) cannot answer. Exact — vocabulary ranking, one
    corpus range-sort on fixed-width id-prefix keys, gaps-and-islands
    nearest-other-doc SA adjacency, codegen'd power-of-two slice-descent
    LCP; no hashing, no single-partition stage (operators/suffix.py module
    docstring for the 100 TB plan shape). The DuckDB oracle brute-forces
    every (position, length ≤ 32) span — quadratic, fine at oracle scale;
    the engine's SA path is the scale plan. Output is one row per
    document (scale-linear, CLAUDE.md rule 7)."""
    from map_reduce_group_spark.operators.suffix import cross_doc_longest_spans

    d = load_table(spark, sf_dir, "documents")
    return cross_doc_longest_spans(d, "doc_id", "text", cap=32)


@register(
    "doc_ngram_novelty",
    oracle=f"""
    WITH {_shingle_ctes()}, firsts AS (
        SELECT shingle, min(id) AS first_id FROM postings GROUP BY 1
    )
    SELECT id AS doc_id,
           CAST(count(*) AS BIGINT) AS n_shingles,
           CAST(sum(CASE WHEN first_id = id THEN 1 ELSE 0 END) AS BIGINT) AS n_novel,
           CAST((10000 * sum(CASE WHEN first_id = id THEN 1 ELSE 0 END))
                // count(*) AS BIGINT) AS novelty_bp
    FROM postings JOIN firsts USING (shingle)
    GROUP BY id
    """,
)
def doc_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document n-gram NOVELTY score: the fraction (integer basis
    points) of a document's distinct word-3-grams whose global first
    occurrence — min doc_id over the corpus — is this document. The
    curriculum/data-mixing signal of RefinedWeb-style pipelines: low
    novelty = the document is mostly re-treading earlier text. Scale: one
    shuffle to aggregate first occurrence per shingle (partial-agg min), a
    shingle-keyed equi-join back to the postings (both sides hash-partition
    by shingle — no broadcast of the vocabulary-sized side), one re-agg by
    doc. Integer ``div`` fixed point — no float division (CLAUDE.md rule 1);
    output is one row per document (scale-linear, rule 7)."""
    d = load_table(spark, sf_dir, "documents")
    posts = dedup.shingle_postings(d, "doc_id", "text", n=3).select("id", "shingle")
    firsts = posts.groupBy("shingle").agg(F.min("id").alias("first_id"))
    per_doc = (
        posts.join(firsts, "shingle")
        .groupBy("id")
        .agg(
            F.count(F.lit(1)).alias("n_shingles"),
            F.sum((col("first_id") == col("id")).cast("long")).alias("n_novel"),
        )
    )
    return per_doc.select(
        col("id").alias("doc_id"),
        "n_shingles",
        "n_novel",
        F.expr("(10000 * n_novel) div n_shingles").alias("novelty_bp"),
    )


_BIGRAMS_SQL = f"""
        list_distinct(list_transform(
            range(1, greatest(len({_TOKS_SQL}), 1)),
            i -> array_to_string(list_slice({_TOKS_SQL}, i, i + 1), ' ')))
"""


@register(
    "text_source_bigram_overlap",
    oracle=f"""
    WITH st AS (
        SELECT DISTINCT source, unnest({_BIGRAMS_SQL}) AS gram FROM documents
        WHERE len({_TOKS_SQL}) >= 2
    ), sizes AS (
        SELECT source, count(*) AS vocab FROM st GROUP BY 1
    ), inter AS (
        SELECT a.source AS source_a, b.source AS source_b, count(*) AS n_inter
        FROM st a JOIN st b USING (gram)
        WHERE a.source < b.source
        GROUP BY 1, 2
    )
    SELECT source_a, source_b,
           CAST(n_inter AS BIGINT) AS n_inter,
           CAST(sa.vocab + sb.vocab - n_inter AS BIGINT) AS n_union,
           CAST((10000 * n_inter)
                // (sa.vocab + sb.vocab - n_inter) AS BIGINT) AS jaccard_bp
    FROM inter
    JOIN sizes sa ON sa.source = source_a
    JOIN sizes sb ON sb.source = source_b
    """,
)
def text_source_bigram_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise SOURCE-vocabulary overlap: Jaccard (integer basis points) of
    the distinct word-BIGRAM vocabularies of every source pair — the corpus
    diagnostic that decides which web snapshots/domains duplicate each other
    before mixing. Bigrams are assembled per document with posexplode + a
    doc-partitioned lead window (never a lead over the source — documents
    sharing a source must not concatenate; rule-2 shape, no interpreted
    lambdas), then distinct'd on (source, gram). Scale: the distinct and the
    gram-keyed self-join hash-partition by gram; output is |sources|² rows —
    a dimension-bounded matrix, never corpus-sized. The per-source vocab
    sizes are a broadcast dim."""
    d = load_table(spark, sf_dir, "documents")
    t = d.select(
        "source", col("doc_id").alias("_did"), F.posexplode(tokens("text")).alias("pos", "tok")
    )
    from pyspark.sql import Window as W

    nxt = F.lead("tok", 1).over(W.partitionBy("_did").orderBy("pos"))
    st = (
        t.select("source", F.concat_ws(" ", col("tok"), nxt).alias("gram"), nxt.alias("_n"))
        .filter(col("_n").isNotNull())
        .select("source", "gram")
        .distinct()
    )
    sizes = st.groupBy("source").agg(F.count(F.lit(1)).alias("vocab"))
    a, b = st.alias("a"), st.alias("b")
    inter = (
        a.join(b, "gram")
        .filter(col("a.source") < col("b.source"))
        .groupBy(col("a.source").alias("source_a"), col("b.source").alias("source_b"))
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    return (
        inter.join(F.broadcast(sizes.withColumnRenamed("source", "source_a")
                               .withColumnRenamed("vocab", "va")), "source_a")
        .join(F.broadcast(sizes.withColumnRenamed("source", "source_b")
                          .withColumnRenamed("vocab", "vb")), "source_b")
        .select(
            "source_a",
            "source_b",
            "n_inter",
            (col("va") + col("vb") - col("n_inter")).alias("n_union"),
            F.expr("(10000 * n_inter) div (va + vb - n_inter)").alias("jaccard_bp"),
        )
    )


@register(
    "embed_rank_fusion",
    oracle=f"""
    WITH {_EMBED_LSH_CTES}, exact_pairs AS (
        SELECT q.vec_id AS q_id, c.vec_id AS c_id,
               {_COS_SQL.format(a="q.v", b="c.v")} AS cos
        FROM e q JOIN e c ON q.vec_id <> c.vec_id
        WHERE q.vec_id % 50 = 0
    ), ecand AS (
        SELECT q_id, c_id, rnk FROM (
            SELECT q_id, c_id,
                   row_number() OVER (PARTITION BY q_id
                                      ORDER BY cos DESC, c_id) AS rnk
            FROM exact_pairs
        ) WHERE rnk <= 5
    ), {_IVF_PAIRS_CTES}, icand AS (
        SELECT q_id, c_id, rnk FROM (
            SELECT q_id, c_id,
                   row_number() OVER (PARTITION BY q_id
                                      ORDER BY cos DESC, c_id) AS rnk
            FROM pairs
        ) WHERE rnk <= 5
    ), fused AS (
        SELECT coalesce(x.q_id, y.q_id) AS q_id, coalesce(x.c_id, y.c_id) AS c_id,
               coalesce(1000000 // (60 + x.rnk), 0)
             + coalesce(1000000 // (60 + y.rnk), 0) AS rrf_micros
        FROM ecand x FULL OUTER JOIN icand y
          ON x.q_id = y.q_id AND x.c_id = y.c_id
    )
    SELECT q_id, c_id, CAST(rrf_micros AS BIGINT) AS rrf_micros,
           CAST(rn AS BIGINT) AS fused_rank
    FROM (
        SELECT *, row_number() OVER (PARTITION BY q_id
                                     ORDER BY rrf_micros DESC, c_id) AS rn
        FROM fused
    ) WHERE rn <= 5
    """,
)
def embed_rank_fusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reciprocal-rank fusion (Cormack et al. SIGIR'09, k=60) of two
    retrievers over the same query set (vec_id % 50 = 0): the exact
    brute-force cosine top-5 and the IVF/LSH multiprobe top-5
    (operators/similarity.py:cosine_topk / ivf_topk, portable mode). Scores
    are integer fixed point — floor(10⁶/(60+rank)) summed across lists, 0
    for an absent list (``div`` == DuckDB ``//``) — so the fused ranking is
    cross-engine deterministic with a (score DESC, c_id ASC) tie-break.
    Scale: both inputs are top-k-bounded (≤ 5 rows/query each), the fusion
    join keys on (q_id, c_id) and the final window partitions by q_id —
    everything after retrieval is query-count-sized, never corpus-sized."""
    e = load_table(spark, sf_dir, "embeddings")
    q = e.filter(col("vec_id") % 50 == 0)
    ex = similarity.cosine_topk(q, e, k=5).select(
        "q_id", "c_id", col("rank").alias("rank_e")
    )
    iv = similarity.ivf_topk(q, e, k=5).select(
        "q_id", "c_id", col("rank").alias("rank_i")
    )
    fused = ex.join(iv, ["q_id", "c_id"], "full_outer").select(
        "q_id",
        "c_id",
        (
            F.coalesce(F.expr("1000000 div (60 + rank_e)"), F.lit(0))
            + F.coalesce(F.expr("1000000 div (60 + rank_i)"), F.lit(0))
        ).alias("rrf_micros"),
    )
    from pyspark.sql import Window as W

    w = W.partitionBy("q_id").orderBy(col("rrf_micros").desc(), col("c_id").asc())
    return fused.select(
        "q_id", "c_id", "rrf_micros", F.row_number().over(w).cast("long").alias("fused_rank")
    ).filter(col("fused_rank") <= 5)


@register(
    "corpus_token_gini",
    oracle=f"""
    WITH tok AS (
        SELECT lang, unnest({_TOKS_SQL}) AS tok FROM documents
    ), cnt AS (
        SELECT lang, tok, count(*) AS c FROM tok GROUP BY 1, 2
    ), ranked AS (
        SELECT lang, c,
               row_number() OVER (PARTITION BY lang ORDER BY c, tok) AS i,
               count(*) OVER (PARTITION BY lang) AS n,
               sum(c) OVER (PARTITION BY lang) AS t
        FROM cnt
    )
    SELECT lang,
           CAST(max(n) AS BIGINT) AS n_types,
           CAST(max(t) AS BIGINT) AS n_tokens,
           CAST((10000 * (2 * sum(i * c) - (max(n) + 1) * max(t)))
                // (max(n) * max(t)) AS BIGINT) AS gini_bp
    FROM ranked GROUP BY lang
    """,
)
def corpus_token_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language Gini coefficient (integer basis points) of the token
    FREQUENCY distribution — the vocabulary-concentration diagnostic (a
    boilerplate-flooded language shows high concentration; a healthy mix
    follows its natural Zipf curve). Gini = (2·Σᵢ i·cᵢ − (n+1)·T)/(n·T)
    with types ranked ascending by count. The engine never ranks the
    vocabulary row-by-row: within a tie run of equal counts every
    permutation yields the same Σ i·cᵢ, so it aggregates types into
    (count → run size) runs and computes the run-sum closed form
    c·(m·B + m(m+1)/2) — the rank window then runs over DISTINCT count
    values per language (heavy-tailed: orders of magnitude below the
    vocabulary, which is itself orders below the corpus). The DuckDB
    oracle keeps the naive per-type row_number form; both are exact
    integer arithmetic (products accumulated in DECIMAL(38,0) — a BIGINT
    Σ i·cᵢ overflows once n·T passes 9.2e18, which a 100 TB corpus does).
    Final score is exact DECIMAL(38,0) ``div`` (== DuckDB HUGEINT ``//``,
    both floor on non-negatives — rule 1: no float division)."""
    d = load_table(spark, sf_dir, "documents")
    from pyspark.sql import Window as W

    cnt = (
        d.select("lang", F.explode(tokens("text")).alias("tok"))
        .groupBy("lang", "tok")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    runs = cnt.groupBy("lang", "c").agg(F.count(F.lit(1)).alias("m"))
    w = W.partitionBy("lang").orderBy("c")
    cum = runs.withColumn("b", F.sum("m").over(w) - col("m"))
    dec = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    agg = cum.groupBy("lang").agg(
        F.sum("m").cast("long").alias("n_types"),
        F.sum(col("c") * col("m")).cast("long").alias("n_tokens"),
        F.sum(
            dec(col("c")) * (dec(col("m")) * dec(col("b"))
                             + dec(F.expr("m * (m + 1) div 2")))
        ).cast("decimal(38,0)").alias("s"),
    )
    return agg.select(
        "lang",
        "n_types",
        "n_tokens",
        F.expr(
            "CAST(10000 * (2 * s - CAST((n_types + 1) AS DECIMAL(38,0))"
            " * n_tokens) AS DECIMAL(38,0))"
            " div CAST(CAST(n_types AS DECIMAL(38,0)) * n_tokens AS DECIMAL(38,0))"
        ).alias("gini_bp"),
    )


@register(
    "doc_bigram_surprisal",
    oracle=f"""
    WITH t AS (
        SELECT doc_id, {_TOKS_SQL} AS toks FROM documents
    ), bg AS (
        SELECT doc_id, toks[i] AS a, toks[i+1] AS b
        FROM t, unnest(range(1, len(toks))) s(i)
    ), bc AS (
        SELECT a, b, count(*) AS cab FROM bg GROUP BY 1, 2
    ), pc AS (
        SELECT a, sum(cab) AS ca FROM bc GROUP BY 1
    )
    SELECT bg.doc_id AS id,
           CAST(count(*) AS BIGINT) AS n_bigrams,
           CAST(sum((pc.ca * 1024) // bc.cab) AS BIGINT) AS sum_surprisal_fp,
           -- 1/10000 integer fixed point, same integer div both engines.
           -- HUGEINT, not DECIMAL: DuckDB's // on DECIMAL promotes to
           -- DOUBLE true division; on integer types it floors like
           -- Spark's div
           CAST((CAST(sum((pc.ca * 1024) // bc.cab) AS HUGEINT) * 10000)
                // (CAST(count(*) AS HUGEINT) * 1024) AS DOUBLE) / 10000.0
               AS mean_surprisal
    FROM bg JOIN bc USING (a, b) JOIN pc USING (a)
    GROUP BY bg.doc_id
    """,
)
def doc_bigram_surprisal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram-conditional LM surprisal per document
    (operators/text.py:bigram_surprisal) — the order-SENSITIVE quality
    filter unigram rarity can't express: count(prefix)/count(bigram) in
    1/1024 integer fixed point, averaged per doc. The CCNet-style LM
    quality screen with the model trained on the corpus itself."""
    d = load_table(spark, sf_dir, "documents")
    return text.bigram_surprisal(d, "doc_id", "text")


@register(
    "text_lang_confusion",
    oracle=f"""
    WITH scored AS (
        SELECT doc_id, lang,
               {_occ_sql(' the ')} AS c_en,
               {_occ_sql(' le ')}  AS c_fr,
               {_occ_sql(' el ')}  AS c_es,
               {_occ_sql(' der ')} AS c_de
        FROM documents
    ), pred AS (
        SELECT lang,
               CASE
                 WHEN c_en > 0 AND c_en = greatest(c_en, c_fr, c_es, c_de) THEN 'en'
                 WHEN c_fr > 0 AND c_fr = greatest(c_en, c_fr, c_es, c_de) THEN 'fr'
                 WHEN c_es > 0 AND c_es = greatest(c_en, c_fr, c_es, c_de) THEN 'es'
                 WHEN c_de > 0 AND c_de = greatest(c_en, c_fr, c_es, c_de) THEN 'de'
                 ELSE 'und'
               END AS pred_lang
        FROM scored
    ), cm AS (
        SELECT lang, pred_lang, count(*) AS n FROM pred GROUP BY 1, 2
    ), tot AS (
        SELECT lang, sum(n) AS nl FROM cm GROUP BY 1
    )
    SELECT cm.lang, cm.pred_lang, CAST(cm.n AS BIGINT) AS n_docs,
           CAST((10000 * cm.n) // t.nl AS BIGINT) AS row_frac_bp
    FROM cm JOIN tot t USING (lang)
    """,
)
def text_lang_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID CONFUSION MATRIX: labeled language × marker-heuristic
    prediction (the doc_lang_id classifier), with per-true-language row
    fractions in integer basis points — the classifier-evaluation rollup a
    pipeline runs before trusting a lang filter. Scale: one partial-agg
    shuffle to the |langs|² matrix; row totals are a matrix-sized
    re-aggregate. Integer ``div`` fixed point, rule 1."""
    d = load_table(spark, sf_dir, "documents")
    cm = (
        d.select("lang", predicted_lang(col("text")).alias("pred_lang"))
        .groupBy("lang", "pred_lang")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    tot = cm.groupBy("lang").agg(F.sum("n").alias("nl"))
    return cm.join(F.broadcast(tot), "lang").select(
        "lang",
        "pred_lang",
        col("n").alias("n_docs"),
        F.expr("(10000 * n) div nl").alias("row_frac_bp"),
    )


@register(
    "embed_cohort_drift",
    oracle="""
    WITH e AS (
        SELECT vec_id, label, CAST(vec_id % 2 AS INT) AS cohort,
               CAST(embedding AS DOUBLE[]) AS v
        FROM embeddings
    ), u AS (
        SELECT label, cohort, generate_subscripts(v, 1) - 1 AS dim,
               CAST(floor(unnest(v) * 1048576.0) AS BIGINT) AS qx
        FROM e
    ), s AS (
        SELECT label, cohort, dim, sum(qx) AS s, count(*) AS n
        FROM u GROUP BY 1, 2, 3
    ), j AS (
        SELECT a.label, a.dim, a.n AS n_a, b.n AS n_b,
               abs(a.s * b.n - b.s * a.n) AS dfp
        FROM s a JOIN s b USING (label, dim)
        WHERE a.cohort = 0 AND b.cohort = 1
    )
    SELECT label, CAST(dim AS BIGINT) AS dim,
           CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
           CAST(dfp // (n_a * n_b) AS BIGINT) AS drift_mean_fp,
           CAST(rnk AS BIGINT) AS rank
    FROM (
        SELECT *, row_number() OVER (PARTITION BY label
                                     ORDER BY dfp DESC, dim ASC) AS rnk
        FROM j
    ) WHERE rnk <= 5
    """,
)
def embed_cohort_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-distribution drift audit between two cohorts (vec_id
    parity as the snapshot stand-in): the top-5 dimensions per label whose
    cohort means moved most, ranked by the EXACT cross-multiplied gap
    |sum_a·n_b − sum_b·n_a| over floor(v·2^20) fixed-point sums and
    reported as the mean gap in 2^20 units
    (operators/drift.py:cohort_centroid_drift). The retrain-trigger check
    of embedding pipelines. Scale: one Arrow pass of per-batch partial
    sums — the vector column never shuffles; everything after is
    (labels × dims)-sized. The DuckDB oracle replays sums, products, and
    ranks bit-for-bit."""
    from map_reduce_group_spark.operators.drift import cohort_centroid_drift

    e = load_table(spark, sf_dir, "embeddings")
    return cohort_centroid_drift(e, "label", "embedding")


@register(
    "text_bm25_topk",
    oracle=f"""
    WITH tok AS (
        SELECT doc_id, unnest({_TOKS_SQL}) AS tok FROM documents
    ), tf AS (
        SELECT doc_id AS id, tok, CAST(count(*) AS BIGINT) AS tf
        FROM tok GROUP BY 1, 2
    ), dl AS (
        SELECT id, CAST(sum(tf) AS BIGINT) AS dl FROM tf GROUP BY 1
    ), vocab AS (
        SELECT tok, CAST(count(*) AS BIGINT) AS df_t FROM tf GROUP BY 1
    ), tot AS (
        SELECT CAST(sum(dl) AS BIGINT) AS t_tot,
               CAST(count(*) AS BIGINT) AS n_docs FROM dl
    ), qterms AS (
        SELECT tok, df_t, CAST((r - 11) // 2 AS BIGINT) AS query_id
        FROM (SELECT tok, df_t,
                     row_number() OVER (ORDER BY df_t DESC, tok) AS r
              FROM vocab)
        WHERE r BETWEEN 11 AND 18
    ), scored AS (
        SELECT q.query_id, tf.id,
               -- HUGEINT == Spark DECIMAL(38,0): the scaled tfnorm
               -- numerator wraps int64 at tf*t_tot ~ 4.1e14 (ADVICE r7 #1)
               CAST(sum(
                   CAST(((t.n_docs - q.df_t + 1) * 1024) // (q.df_t + 1) AS HUGEINT)
                   * ((CAST(tf.tf AS HUGEINT) * 22 * t.t_tot * 1024)
                      // (CAST(10 AS HUGEINT) * tf.tf * t.t_tot
                          + CAST(3 AS HUGEINT) * t.t_tot
                          + CAST(9 AS HUGEINT) * d.dl * t.n_docs))
                   // 1024
               ) AS BIGINT) AS score_fp,
               CAST(count(*) AS BIGINT) AS n_terms_hit
        FROM qterms q
        JOIN tf ON tf.tok = q.tok
        JOIN dl d ON d.id = tf.id
        CROSS JOIN tot t
        GROUP BY 1, 2
    )
    SELECT query_id, id AS doc_id, CAST(rnk AS BIGINT) AS rank,
           score_fp, n_terms_hit
    FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                                       ORDER BY score_fp DESC, id) AS rnk
          FROM scored)
    WHERE rnk <= 10
    """,
)
def text_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Okapi BM25 lexical retrieval (operators/retrieval.py:bm25_topk) —
    top-10 documents for 4 corpus-derived 2-term queries (vocabulary ranks
    11-18 by document frequency: past the stopword head, still corpus-wide
    terms; rank-based selection is data-size-relative). k1=1.2 / b=0.75
    folded into exact int64 arithmetic by clearing denominators, log idf
    replaced by the Robertson odds ratio in 1/1024 fixed point (the
    unigram_rarity log-free convention), per-term floor before summing —
    the DuckDB oracle replays every term contribution bit-for-bit. Scale:
    one (id, tok, tf) shuffle reused for lengths/dfs/scoring, query terms
    and corpus totals ride broadcasts, top-k is a WindowGroupLimit."""
    from map_reduce_group_spark.operators.retrieval import bm25_topk

    d = load_table(spark, sf_dir, "documents")
    return bm25_topk(d, "doc_id", "text")


@register(
    "embed_ann_pq_adc",
    oracle=f"""
    WITH {_EMBED_CTE}, {_int8_ctes("e")}, codes AS (
        SELECT id, i, CAST((i - 1) // 16 AS INT) AS m,
               CAST({_INT8_CODE_SQL} AS BIGINT) AS code
        FROM u JOIN stats USING (i)
    ), seed_ids AS (
        SELECT id, CAST(row_number() OVER (ORDER BY id) - 1 AS INT) AS j
        FROM (SELECT DISTINCT id FROM codes) ORDER BY id LIMIT 8
    ), cents0 AS (
        SELECT c.m, s.j, c.i, c.code FROM seed_ids s JOIN codes c USING (id)
    ), d1 AS (
        SELECT c.id, c.m, k.j,
               sum((c.code - k.code) * (c.code - k.code)) AS dist2
        FROM codes c JOIN cents0 k ON k.i = c.i
        GROUP BY 1, 2, 3
    ), a1 AS (
        SELECT id, m, j FROM (
            SELECT id, m, j,
                   row_number() OVER (PARTITION BY id, m ORDER BY dist2, j) AS rn
            FROM d1
        ) WHERE rn = 1
    ), upd AS (
        SELECT a1.m, a1.j, c.i,
               CAST((2 * sum(c.code) + count(*)) // (2 * count(*)) AS BIGINT)
                   AS code
        FROM a1 JOIN codes c ON c.id = a1.id AND c.m = a1.m
        GROUP BY 1, 2, 3
    ), cents1 AS (
        SELECT k.m, k.j, k.i, coalesce(u2.code, k.code) AS code
        FROM cents0 k LEFT JOIN upd u2 ON u2.j = k.j AND u2.i = k.i
    ), d2 AS (
        SELECT c.id, c.m, k.j,
               sum((c.code - k.code) * (c.code - k.code)) AS dist2
        FROM codes c JOIN cents1 k ON k.i = c.i
        GROUP BY 1, 2, 3
    ), enc AS (
        SELECT id, m, j AS code_j FROM (
            SELECT id, m, j,
                   row_number() OVER (PARTITION BY id, m ORDER BY dist2, j) AS rn
            FROM d2
        ) WHERE rn = 1
    ), adc AS (
        SELECT qd.id AS q_id, en.id AS c_id,
               CAST(sum(qd.dist2) AS BIGINT) AS adc_d2
        FROM enc en
        JOIN d2 qd ON qd.m = en.m AND qd.j = en.code_j
        WHERE qd.id % 50 = 0 AND en.id <> qd.id
        GROUP BY 1, 2
    )
    SELECT q_id, c_id, adc_d2, CAST(rnk AS BIGINT) AS rank FROM (
        SELECT *, row_number() OVER (PARTITION BY q_id
                                     ORDER BY adc_d2, c_id) AS rnk
        FROM adc
    ) WHERE rnk <= 5
    """,
)
def embed_ann_pq_adc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN with asymmetric distance computation
    (operators/similarity.py:pq_adc_topk; Jegou et al. PAMI'11): 64 dims
    split into 4 subspaces of 16, each training an 8-centroid codebook
    with the fixed-point Lloyd recipe (lowest-id seeds sliced per
    subspace, 2 iterations); corpus vectors compress to 4 codes and every
    query scores the corpus via 4 integer table lookups per candidate —
    the memory layout that keeps a 100 TB vector scan in RAM. End-to-end
    integer, so the DuckDB oracle replays codebooks, codes, and every ADC
    score bit-for-bit (the query's ADC table at (m, j) IS its d2 row —
    shared CTE). Top-5 by (adc_d2 ASC, c_id ASC), self excluded."""
    e = load_table(spark, sf_dir, "embeddings")
    q = e.filter(col("vec_id") % 50 == 0)
    return similarity.pq_adc_topk(q, e, k=5, n_subspaces=4, n_codes=8, train_iters=2)


@register(
    "embed_matryoshka_agreement",
    oracle=f"""
    WITH {_EMBED_CTE}, e16 AS (
        SELECT id, list_slice(v, 1, 16) AS v FROM e
    ), e32 AS (
        SELECT id, list_slice(v, 1, 32) AS v FROM e
    ), te AS ({_COS_TOP5_SQL.format(src="e")}
    ), t16 AS ({_COS_TOP5_SQL.format(src="e16")}
    ), t32 AS ({_COS_TOP5_SQL.format(src="e32")}
    )
    SELECT te.q_id,
           CAST(sum(CASE WHEN t16.c_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
               AS n_agree_16,
           CAST(sum(CASE WHEN t32.c_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
               AS n_agree_32
    FROM te
    LEFT JOIN t16 ON te.q_id = t16.q_id AND te.c_id = t16.c_id
    LEFT JOIN t32 ON te.q_id = t32.q_id AND te.c_id = t32.c_id
    GROUP BY te.q_id
    """,
)
def embed_matryoshka_agreement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matryoshka-style truncation audit (Kusupati et al. 2022: nested
    prefix sub-embeddings): per query, how many of the full-64-dim exact
    cosine top-5 survive when retrieval runs on the 16-dim and 32-dim
    PREFIXES — the measurement behind serving shorter vectors for the
    coarse pass of a 100 TB retrieval stack (4×/2× scan-bandwidth cuts).
    Truncation is a native ``slice`` projection (no Python), each ranking
    is the sharded-cogroup cosine_topk kernel, and the agreement join is
    the same shape as embed_quantized_topk_agreement; the DuckDB oracle
    replays all three rankings and both intersections. Output
    (q_id, n_agree_16 ∈ 0..5, n_agree_32 ∈ 0..5)."""
    e = load_table(spark, sf_dir, "embeddings")
    exact = similarity.cosine_topk(e.filter(col("vec_id") % 50 == 0), e, k=5)
    te = exact.select("q_id", "c_id")
    out = None
    for dims in (16, 32):
        s = e.select("vec_id", F.slice(col("embedding"), 1, dims).alias("v"))
        tk = similarity.cosine_topk(
            s.filter(col("vec_id") % 50 == 0), s, id_col="vec_id", vec_col="v", k=5
        ).select(col("q_id").alias("tq_q"), col("c_id").alias("tq_c"))
        agree = (
            te.join(tk, (te.q_id == tk.tq_q) & (te.c_id == tk.tq_c), "left")
            .groupBy("q_id")
            .agg(
                F.sum(F.when(col("tq_c").isNotNull(), 1).otherwise(0))
                .cast("long")
                .alias(f"n_agree_{dims}")
            )
        )
        out = agree if out is None else out.join(agree, "q_id")
    return out


@register(
    "doc_quality_rules",
    oracle=f"""
    WITH tok AS (
        SELECT doc_id, unnest({_TOKS_SQL}) AS tok FROM documents
    ), tf AS (
        SELECT doc_id AS id, tok, CAST(count(*) AS BIGINT) AS tf,
               CAST(length(tok) AS BIGINT) AS toklen
        FROM tok GROUP BY 1, 2
    ), pd AS (
        SELECT id, CAST(sum(tf) AS BIGINT) AS n_tokens,
               CAST(sum(tf * toklen) AS BIGINT) AS sum_len,
               CAST(max(tf) AS BIGINT) AS max_tf,
               CAST(count(*) AS BIGINT) AS n_distinct
        FROM tf GROUP BY 1
    ), c AS (
        SELECT CAST(sum(n_tokens) AS BIGINT) AS t_tok,
               CAST(sum(sum_len) AS BIGINT) AS t_len,
               CAST(count(*) AS BIGINT) AS n_docs
        FROM pd
    )
    SELECT id, n_tokens,
           CAST((sum_len * 100) // n_tokens AS BIGINT) AS mean_tok_len_fp,
           CAST((max_tf * 10000) // n_tokens AS BIGINT) AS max_tok_share_bp,
           CAST((n_distinct * 10000) // n_tokens AS BIGINT) AS distinct_ratio_bp,
           -- HUGEINT == Spark DECIMAL(38,0): sum_len*t_tok wraps int64
           -- inside the 100 TB envelope (ADVICE r7 #1 headroom class)
           2 * CAST(n_tokens AS HUGEINT) * n_docs < t_tok AS flag_short,
           CAST(n_tokens AS HUGEINT) * n_docs > 2 * t_tok AS flag_long,
           (3 * CAST(sum_len AS HUGEINT) * t_tok
              < 2 * CAST(n_tokens AS HUGEINT) * t_len
            OR 2 * CAST(sum_len AS HUGEINT) * t_tok
              > 3 * CAST(n_tokens AS HUGEINT) * t_len) AS flag_tok_len,
           max_tf * 5 > n_tokens AS flag_repetitive,
           NOT (2 * CAST(n_tokens AS HUGEINT) * n_docs < t_tok
                OR CAST(n_tokens AS HUGEINT) * n_docs > 2 * t_tok
                OR 3 * CAST(sum_len AS HUGEINT) * t_tok
                   < 2 * CAST(n_tokens AS HUGEINT) * t_len
                OR 2 * CAST(sum_len AS HUGEINT) * t_tok
                   > 3 * CAST(n_tokens AS HUGEINT) * t_len
                OR max_tf * 5 > n_tokens) AS passes
    FROM pd, c
    """,
)
def doc_quality_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-calibrated rule-based quality filter
    (operators/text.py:quality_rules) — the Gopher-rules family (Rae et
    al. 2021 §A1.1) with corpus-relative thresholds: token count outside
    [½, 2]× the corpus mean, mean token length outside [⅔, 1.5]× the
    corpus mean (all integer cross-multiplications — no ratio ever
    becomes a float), and a size-free per-doc repetition cap (one token
    > 20 % of the doc). Raw signals ride along in integer fixed point so
    a pipeline can re-threshold without recomputing. One token shuffle +
    one broadcast scalar join."""
    d = load_table(spark, sf_dir, "documents")
    return text.quality_rules(d, "doc_id", "text")
