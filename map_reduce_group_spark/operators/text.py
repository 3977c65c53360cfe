"""Text-analysis expression library (north-star: language-ID, quality
scoring, token counting, fingerprinting — BASELINE.json).

Everything here is a *column expression builder* — pure JVM-side built-ins
(split/filter/regexp/md5), no Python UDFs — so the hot path stays inside
whole-stage codegen at 100 TB. The tokenizer is deliberately the exact regex
used by the DuckDB oracles so both engines tokenize identically.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import Column

# Tokenizer contract shared with every oracle: lowercase, split on runs of
# non-letters, drop empties.
TOKEN_SPLIT_RE = "[^a-z]+"

# Language marker stopwords for the n-gram-heuristic language ID.
LANG_MARKERS: dict[str, str] = {
    "en": " the ",
    "fr": " le ",
    "es": " el ",
    "de": " der ",
}


def tokens(text: Column | str) -> Column:
    """array<string> of lowercase word tokens.

    ``array_remove(split(...), '')`` rather than ``F.filter(..., lambda)``:
    ArrayRemove is a native codegen expression while higher-order ``filter``
    interprets its lambda per element (CLAUDE.md rule 2) — measured 1.5×
    on the tokenize+count path at 10×, byte-identical output on the whole
    corpus (split never yields nulls, so removing '' is the same set)."""
    c = F.lower(F.col(text) if isinstance(text, str) else text)
    return F.array_remove(F.split(c, TOKEN_SPLIT_RE), "")


def token_count(text: Column | str) -> Column:
    """Number of word tokens (whitespace/punct-delimited).

    ``regexp_count`` of the token-run pattern instead of
    ``size(tokens(...))``: a token IS a maximal ``[a-z]+`` run of the
    lowered text, so the count never needs the string array materialized —
    count-only consumers (sequence packing's 5M-doc prefix scan) skip the
    split-and-allocate entirely (VERDICT r7 #3). NULL/empty inputs agree
    with the array form (NULL → NULL, '' → 0)."""
    c = F.lower(F.col(text) if isinstance(text, str) else text)
    return F.regexp_count(c, F.lit("[a-z]+"))


BPE_ISH_RE = "[a-z]+|[0-9]+|[^a-z0-9\\s]"  # shared verbatim with the oracle SQL


def bpe_ish_token_count(text: Column | str) -> Column:
    """BPE-style token estimate: letter runs + digit runs + each symbol
    counts as one token (a common pre-tokenizer regex)."""
    c = F.lower(F.col(text) if isinstance(text, str) else text)
    return F.regexp_count(c, F.lit(BPE_ISH_RE))


def spread_small_scan(df):
    """Round-robin repartition up to the session's default parallelism —
    ONLY when the input plan arrives with fewer partitions than that.

    Why (guide §2.5 input skew / §6 split size): a parquet row group is
    unsplittable, so a fixture written as one row group per file scans as
    ONE task regardless of ``maxPartitionBytes``/``minPartitionNum``, and
    the CPU-dense tokenize→posexplode heads rooted on that scan serialize
    onto a single core. On a real corpus (thousands of splits ≥ session
    parallelism) the gate makes this a provable no-op — it is a
    small-input unserializer, not a local-core tuning constant.

    Callers pass a projection of ONLY the columns the head needs so the
    round-robin exchange carries no dead payload (guide §2.3). Results are
    unaffected: every consumer downstream of these heads is a keyed
    window/groupBy whose own hash exchange re-partitions anyway, and
    partitioning-invariance is an engine design invariant pinned by the
    property suite. Keyless ``repartition(n)`` sorts before exchanging
    (SPARK-23207) so retried tasks reproduce the same assignment — safe
    under speculation.
    """
    # ADVICE r9: a streaming frame has no .rdd — never probe it (the
    # streaming operators size state via run_to_memory instead).
    if df.isStreaming:
        return df
    target = df.sparkSession.sparkContext.defaultParallelism
    # The .rdd probe plans (and, under AQE, materializes upstream shuffle
    # stages of) the input — intentional where the caller passes a persisted
    # head (the persist materializes exactly once, here), and a no-op for the
    # bare projected scans most call sites pass. Guarded so an unprobeable
    # plan degrades to "don't spread" rather than failing the query.
    try:
        n = df.rdd.getNumPartitions()
    except Exception:
        return df
    if n >= target:
        return df
    return df.repartition(target)


def occurrences(text: Column, marker: str) -> Column:
    """Count non-overlapping occurrences of ``marker`` in ``' '||text||' '``.

    length-difference trick so the identical formula runs in the oracle SQL.
    """
    padded = F.concat(F.lit(" "), F.lower(text), F.lit(" "))
    return (
        (F.length(padded) - F.length(F.replace(padded, F.lit(marker), F.lit(""))))
        / len(marker)
    ).cast("long")


def lang_scores(text: Column) -> dict[str, Column]:
    return {lang: occurrences(text, marker) for lang, marker in LANG_MARKERS.items()}


def predicted_lang(text: Column) -> Column:
    """Argmax over marker-stopword counts with fixed precedence en>fr>es>de;
    'und' (undetermined) when no marker occurs."""
    s = lang_scores(text)
    best = F.greatest(*s.values())
    expr = F.lit("und")
    # build the CASE in reverse precedence so earlier langs win ties
    for lang in reversed(list(LANG_MARKERS)):
        expr = F.when((s[lang] > 0) & (s[lang] == best), F.lit(lang)).otherwise(expr)
    return expr


def fingerprint(text: Column | str) -> Column:
    """Document fingerprint: md5 of the whitespace-normalized lowercase text.
    Content-addressed, so fingerprint-equality == exact-duplicate (after
    normalization) — the basis of exact dedup at scale (group by fingerprint,
    not by the full text, so shuffle keys stay 32 bytes)."""
    c = F.col(text) if isinstance(text, str) else text
    return F.md5(F.regexp_replace(F.lower(F.trim(c)), "\\s+", " "))


def chunk_documents(
    df, id_col: str, text_col: str, chunk_size: int = 32, overlap: int = 8
):
    """Split documents into overlapping token-window chunks — the standard
    LLM-pipeline prep step (context-sized pieces with overlap so no span is
    lost at a boundary).

    Pure codegen shape: one ``explode(sequence(...))`` per document for the
    chunk index grid, then a plain ``slice`` (a regular function, not an
    interpreted lambda) per chunk. Shuffle-free — a map-only plan whose
    output rows ≈ tokens/stride per doc.

    Returns (id, chunk_id, chunk_text, n_chunk_tokens).
    """
    stride = chunk_size - overlap
    if stride <= 0:
        raise ValueError("chunk_size must exceed overlap")
    toks = tokens(text_col)
    n_chunks = F.greatest(
        F.ceil((F.size(toks) - F.lit(overlap)) / F.lit(stride)), F.lit(1)
    ).cast("int")
    d = df.select(
        F.col(id_col).alias("id"), toks.alias("toks"), n_chunks.alias("nc")
    ).select(
        "id",
        "toks",
        # explode cannot be nested inside a cast; cast in the outer select
        F.explode(F.sequence(F.lit(0), F.col("nc") - 1)).alias("chunk_i"),
    )
    chunk = F.slice(F.col("toks"), F.col("chunk_i") * stride + 1, chunk_size)
    return d.select(
        "id",
        F.col("chunk_i").cast("long").alias("chunk_id"),
        F.array_join(chunk, " ").alias("chunk_text"),
        F.size(chunk).cast("long").alias("n_chunk_tokens"),
    )


# PII patterns shared verbatim with the DuckDB oracles. Deliberately simple
# ASCII classes + \b word boundaries so Java regex (Spark) and RE2 (DuckDB)
# agree byte-for-byte; real deployments would swap in stricter patterns, the
# plumbing (count + global redact, all codegen'd regexp built-ins) is the same.
PII_PATTERNS: dict[str, tuple[str, str]] = {
    "email": (r"[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}", "<EMAIL>"),
    "phone": (r"\b\d{3}-\d{4}\b", "<PHONE>"),
    "ipv4": (r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b", "<IP>"),
}


def pii_counts(text: Column | str) -> dict[str, Column]:
    """Per-kind PII occurrence counts (regexp_count — JVM codegen)."""
    c = F.col(text) if isinstance(text, str) else text
    return {
        kind: F.regexp_count(c, F.lit(pat)).cast("long")
        for kind, (pat, _) in PII_PATTERNS.items()
    }


def scrub_pii(text: Column | str) -> Column:
    """Redact every PII match with its typed placeholder. Email runs first
    so the address's digits can't be half-eaten by the phone/IP patterns."""
    c = F.col(text) if isinstance(text, str) else text
    for pat, repl in PII_PATTERNS.values():
        c = F.regexp_replace(c, pat, repl)
    return c


def nfc_normalize(text: Column | str) -> Column:
    """Unicode NFC normalization (composed canonical form) — the first pass
    of any text-dedup pipeline: visually-identical strings with decomposed
    combining marks (``e`` + U+0301 vs precomposed ``é``) hash differently,
    so exact/near dedup and fingerprinting must run on a canonical form.

    Spark has no normalization built-in, so this is a vectorized Pandas UDF
    (pandas ``Series.str.normalize`` → unicodedata NFC per Arrow batch) —
    one of the few justified Python hot paths: the work is per-document,
    codegen can't express it, and the Arrow transfer is columnar. NFC is
    engine-agnostic (Unicode-defined), so DuckDB's ``nfc_normalize``
    oracle-checks the output byte-for-byte."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("string")
    def _nfc(s):  # pd.Series -> pd.Series
        return s.str.normalize("NFC")

    c = F.col(text) if isinstance(text, str) else text
    return _nfc(c)


def repetition_signals(df, id_col: str, text_col: str):
    """Within-document repetition signals — the Gopher-rules quality family
    (Rae et al. 2021 §A1.1: duplicate/top n-gram fractions): documents that
    repeat themselves (boilerplate, keyword stuffing, template spam) are
    filtered from LLM training corpora before any cross-document dedup runs.

    Emits, per document (token-count-based variants of the Gopher signals):

    - ``dup_token_frac``  — fraction of tokens that are repeats of an
      earlier token: ``(n_tokens − n_distinct) / n_tokens``;
    - ``top_token_frac``  — share of the single most frequent token;
    - ``dup_2gram_frac``  — same repeat fraction over token 2-grams;
    - ``top_2gram_frac``  — share of the most frequent 2-gram.

    Shape (CLAUDE.md rule 2 — no interpreted higher-order lambdas in the
    per-token path): one posexplode, a lead() window to form 2-grams, then
    two (id, gram)-keyed groupBy counts reduced to per-id aggregates. Every
    shuffle is keyed by doc id (or (id, gram), strictly finer), so the plan
    parallelizes by document at any corpus size — no global state, no
    driver collect.

    Returns (id, n_tokens, dup_token_frac, top_token_frac, n_2grams,
    dup_2gram_frac, top_2gram_frac); zero-token documents report 0 counts
    and 0.0 fractions.
    """
    from pyspark.sql import Window

    base = df.select(
        F.col(id_col).alias("id"), F.posexplode(tokens(text_col)).alias("pos", "tok")
    )
    order = Window.partitionBy("id").orderBy("pos")
    grams = base.select(
        "id",
        F.col("tok"),
        F.when(
            F.lead("tok", 1).over(order).isNotNull(),
            F.concat_ws(" ", "tok", F.lead("tok", 1).over(order)),
        ).alias("gram"),
    )

    def stats(col_name: str, n_name: str, frac_prefix: str):
        cnt = (
            grams.filter(F.col(col_name).isNotNull())
            .groupBy("id", col_name)
            .count()
        )
        agg = cnt.groupBy("id").agg(
            F.sum("count").cast("long").alias(n_name),
            F.count(F.lit(1)).cast("long").alias("_distinct"),
            F.max("count").cast("long").alias("_maxc"),
        )
        # Display fractions in 1/10000 integer fixed point, NOT round(double)
        # (rule 1 — same recipe as bigram_surprisal's mean_surprisal): one
        # integer div (Spark `div` == DuckDB `//`) then a single exact
        # int→double division is bit-identical across engines, while
        # round(double, 6) brushes HALF_UP-vs-rint representation edges.
        # Denominator is never 0 here: zero-token docs never reach `cnt`
        # (they get the coalesce(0) fill below).
        return agg.select(
            "id",
            n_name,
            (
                F.expr(f"(({n_name} - _distinct) * 10000) div {n_name}")
                .cast("double") / 10000.0
            ).alias(f"dup_{frac_prefix}_frac"),
            (
                F.expr(f"(_maxc * 10000) div {n_name}").cast("double") / 10000.0
            ).alias(f"top_{frac_prefix}_frac"),
        )

    tok_stats = stats("tok", "n_tokens", "token")
    gram_stats = stats("gram", "n_2grams", "2gram")
    ids = df.select(F.col(id_col).alias("id")).distinct()
    out = ids.join(tok_stats, "id", "left").join(gram_stats, "id", "left")
    filled = [
        F.coalesce(F.col(c), F.lit(0)).cast("long").alias(c)
        if c.startswith("n_")
        else F.coalesce(F.col(c), F.lit(0.0)).alias(c)
        for c in out.columns
        if c != "id"
    ]
    return out.select("id", *filled)


def winnow_fingerprints(df, id_col: str, text_col: str, k: int = 3, w: int = 4):
    """Winnowing document fingerprints (Schleimer/Wilkerson/Aiken, SIGMOD'03
    — the rolling-hash fingerprinting scheme behind Moss): hash every token
    k-gram, slide a w-hash window over the sequence, keep the minimum hash
    of each window, dedup. Guarantees every match of length ≥ w+k-1 tokens
    shares a fingerprint while storing only ~2/(w+1) of the hashes — the
    classic density/guarantee trade for plagiarism/copy detection at corpus
    scale.

    Implementation is the posexplode + window shape (no interpreted
    higher-order lambdas in the per-token path): one shuffle on doc id
    drives BOTH the k-gram construction (lead) and the window minimum; the
    hash is md5 of the joined token k-gram, and the window minimum is taken
    on the hex STRING (lexicographic — identical ordering in any engine, no
    hex→int conversion needed). Short documents (fewer than w k-grams) get
    the minimum over all their k-grams (the pos ≤ max(m−w, 0) guard keeps
    exactly the full windows otherwise).

    Returns distinct (id, fp) pairs.
    """
    from pyspark.sql import Window

    base = df.select(
        F.col(id_col).alias("id"), F.posexplode(tokens(text_col)).alias("pos", "tok")
    )
    order = Window.partitionBy("id").orderBy("pos")
    parts = [F.col("tok")] + [F.lead("tok", i).over(order) for i in range(1, k)]
    shingled = (
        base.select(
            "id",
            "pos",
            F.concat_ws(" ", *parts).alias("shingle"),
            F.lead("tok", k - 1).over(order).alias("_last"),
        )
        .filter(F.col("_last").isNotNull())
        .select("id", "pos", F.md5(F.col("shingle")).alias("h"))
    )
    frame = Window.partitionBy("id").orderBy("pos").rowsBetween(0, w - 1)
    whole = Window.partitionBy("id")
    winnowed = shingled.select(
        "id",
        "pos",
        F.min("h").over(frame).alias("fp"),
        F.count(F.lit(1)).over(whole).alias("m"),
    ).filter(F.col("pos") <= F.greatest(F.col("m") - F.lit(w), F.lit(0)))
    return winnowed.select("id", "fp").distinct()


def pack_sequences(df, id_col: str, text_col: str, seq_len: int = 64, num_partitions: int = 32):
    """Sequence packing — the GPT/T5 training-prep step that concatenates
    the corpus token stream in a deterministic document order and splits it
    into fixed ``seq_len`` training sequences: each document is assigned
    the half-open range of sequence ids its tokens land in.

    The kernel is a GLOBAL prefix sum over documents ordered by id — the
    naive shape (one Window over a global ORDER BY) funnels the whole
    corpus through a single partition, so this implements the classic
    two-pass distributed scan instead:

    1. range-partition by id (partition order == id order), per-partition
       token subtotals via one tiny spark_partition_id groupBy;
    2. the P subtotal rows (P = partition count, not data size) come to
       the driver, form exclusive prefix offsets, and are broadcast back
       via a P-row join; each partition then windows ONLY within itself.

    The driver-side step is O(num_partitions) scalars — same class as the
    connected-components convergence check (operators/clusters.py), not a
    data collect. Zero-token documents occupy no sequence positions and
    are excluded (nothing to pack).

    Returns (id, n_tokens, first_seq, last_seq, n_seqs).
    """
    from pyspark.sql import Window

    # checkpoint the tiny (id, n) frame BEFORE repartitionByRange: the
    # range partitioner SAMPLES its child to pick bounds, so partitioning
    # the raw pipeline runs the tokenizer twice over the corpus (measured
    # ~20% of the 1000×-decade wall, VERDICT r7 #3); sampling a
    # materialized two-long-column frame is free
    counts = (
        df.select(F.col(id_col).alias("id"), token_count(text_col).cast("long").alias("n"))
        .filter(F.col("n") > 0)
        .localCheckpoint()
    )
    t = counts.repartitionByRange(num_partitions, "id").withColumn(
        "pid", F.spark_partition_id()
    )
    t = t.localCheckpoint()  # pin partitioning: pid must not be recomputed differently per use
    subtotal_rows = sorted(
        (r["pid"], r["s"]) for r in t.groupBy("pid").agg(F.sum("n").alias("s")).collect()
    )
    offsets, running = [], 0
    for pid, s in subtotal_rows:
        offsets.append((pid, running))
        running += s
    spark = df.sparkSession
    off = F.broadcast(spark.createDataFrame(offsets, "pid int, off long"))
    w = Window.partitionBy("pid").orderBy("id")
    cum_before = F.col("off") + F.sum("n").over(w) - F.col("n")
    first = F.floor(cum_before / seq_len).cast("long")
    last = F.floor((cum_before + F.col("n") - 1) / seq_len).cast("long")
    return (
        t.join(off, "pid")
        .select(
            "id",
            F.col("n").alias("n_tokens"),
            first.alias("first_seq"),
            last.alias("last_seq"),
            (last - first + 1).alias("n_seqs"),
        )
    )


def unigram_rarity(df, id_col: str, text_col: str):
    """Unigram-LM rarity score — the perplexity-proxy quality-filter family
    of CCNet (Wenzek et al. 2020), realized as the mean INVERSE token
    frequency under the corpus's own unigram model: rarity(t) = N / c_t
    (the expected "dilution" of the token), and a document's score is the
    token-occurrence mean. Documents of rare/garbled tokens score high,
    stopword boilerplate scores low.

    Exactness: rarity is computed in 1/1024 fixed point with INTEGER
    division — r_t = (N * 1024) div c_t — so every per-document sum is
    integer-exact and bit-identical across engines (Spark ``div`` is DuckDB
    ``//`` on positive BIGINTs). A float log-prob can differ in the last
    ulp between libm and the JVM; whole-bit log2 (bin-length) is exact but
    too coarse to separate documents when the vocabulary is near-uniformly
    distributed (this fixture: 30 of 31 tokens land on the same bit
    count). Headroom: sum tf*r <= n_tokens_doc * 1024 * N — int64
    overflows only past ~10^12 corpus tokens on fully-hapax documents;
    shrink the 1024 scale beyond that.

    Scale shape: tokenization is map-side codegen; the corpus collapses to
    (id, token, tf) with one shuffle; the vocabulary table is a second
    aggregation of that already-reduced relation (never the raw stream);
    the scoring join is token-keyed — skewed on stopwords, but each hot
    token is a single build-side row, so AQE's skew split handles the
    probe side. N rides a one-row broadcast. Raw text never shuffles.

    Returns (id, n_tokens, sum_rarity_fp, mean_rarity); zero-token
    documents carry no mass and are excluded (both engines drop them
    identically).
    """
    tf = (
        df.select(F.col(id_col).alias("id"), F.explode(tokens(text_col)).alias("tok"))
        .groupBy("id", "tok")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    vocab = tf.groupBy("tok").agg(F.sum("tf").alias("c"))
    n_row = vocab.agg(F.sum("c").alias("n"))
    r = F.expr("(n * 1024) div c")
    return (
        tf.join(vocab, "tok")
        .join(F.broadcast(n_row))
        .groupBy("id")
        .agg(
            F.sum("tf").cast("long").alias("n_tokens"),
            F.sum(F.col("tf") * r).cast("long").alias("sum_rarity_fp"),
        )
        .select(
            "id",
            "n_tokens",
            "sum_rarity_fp",
            # display mean in 1/10000 integer fixed point, NOT round(double)
            # (rule 1 — bigram_surprisal's recipe): DECIMAL(38,0) keeps the
            # ×10000 product overflow-proof past int64 at 100 TB corpus sums.
            (
                F.expr(
                    "CAST(CAST(sum_rarity_fp AS DECIMAL(38,0)) * 10000 AS DECIMAL(38,0))"
                    " div CAST(CAST(n_tokens AS DECIMAL(38,0)) * 1024 AS DECIMAL(38,0))"
                ).cast("double")
                / 10000.0
            ).alias("mean_rarity"),
        )
    )


def bigram_surprisal(df, id_col: str, text_col: str):
    """Bigram-conditional surprisal score per document — the next step up
    from :func:`unigram_rarity`'s order-free frequencies: for each adjacent
    token pair (a, b), the inverse conditional probability
    count(a·*)/count(a·b) in 1/1024 integer fixed point (Spark ``div`` ==
    DuckDB ``//``), summed and averaged per document. High mean surprisal =
    token transitions rarely seen in the corpus (disfluent/shuffled text);
    low = formulaic boilerplate. Same exactness policy as unigram_rarity:
    no float logs, integer fixed point end-to-end, the only division a
    final exact-int double display division rounded at 4.

    Scale shape: bigrams assemble per document with posexplode + a
    doc-partitioned lead window (rule-2 shape, no interpreted lambdas);
    the corpus collapses to (a, b) counts with one shuffle; prefix counts
    are a second aggregation of that reduced relation; the scoring joins
    are bigram-/prefix-keyed (hot prefixes are single build-side rows —
    AQE skew split covers the probe). Documents with < 2 tokens carry no
    bigrams and drop identically in both engines."""
    from pyspark.sql import Window

    t = df.select(
        F.col(id_col).alias("id"), F.posexplode(tokens(text_col)).alias("pos", "tok")
    )
    w = Window.partitionBy("id").orderBy("pos")
    bg = (
        t.select("id", F.col("tok").alias("a"), F.lead("tok", 1).over(w).alias("b"))
        .filter(F.col("b").isNotNull())
    )
    bc = bg.groupBy("a", "b").agg(F.count(F.lit(1)).alias("cab"))
    pc = bc.groupBy("a").agg(F.sum("cab").alias("ca"))
    s = F.expr("(ca * 1024) div cab")
    return (
        bg.join(bc, ["a", "b"])
        .join(pc, "a")
        .groupBy("id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.sum(s).cast("long").alias("sum_surprisal_fp"),
        )
        .select(
            "id",
            "n_bigrams",
            "sum_surprisal_fp",
            # display mean in 1/10000 integer fixed point, NOT round(double)
            # (ADVICE r6 #2: rule-1 exactness — Spark's HALF_UP BigDecimal
            # round and DuckDB's rint can disagree at representation
            # boundaries; an integer div then one exact int→double division
            # is bit-identical in both engines). DECIMAL(38,0) to keep the
            # ×10000 product overflow-proof at any document length.
            (
                F.expr(
                    "CAST(CAST(sum_surprisal_fp AS DECIMAL(38,0)) * 10000 AS DECIMAL(38,0))"
                    " div CAST(CAST(n_bigrams AS DECIMAL(38,0)) * 1024 AS DECIMAL(38,0))"
                ).cast("double")
                / 10000.0
            ).alias("mean_surprisal"),
        )
    )


def quality_rules(df, id_col: str, text_col: str):
    """Corpus-calibrated rule-based quality filter — the Gopher-rules
    family (Rae et al. 2021 §A1.1: word-count bounds, mean-word-length
    band, repetition caps), with every corpus-level threshold expressed as
    an integer CROSS-MULTIPLICATION against corpus totals so the rules are
    data-size-relative (CLAUDE.md rule 7) and bit-exact across engines
    (rule 1 — no ratio ever materializes as a float):

    - flag_short / flag_long: doc token count below half / above twice the
      corpus mean (n_d·D ≶ T/2, 2T cross-multiplied);
    - flag_tok_len: mean token length outside [2/3, 3/2]× the corpus mean
      (3·L_d·T ≶ 2·n_d·L vs 2·L_d·T vs 3·n_d·L);
    - flag_repetitive: the most frequent token exceeds 20 % of the doc
      (max_tf·5 > n_d — a per-doc RATIO rule, size-free by construction);
    - passes: none of the above fired.

    Emitted alongside the raw signals (token count, mean token length and
    max-token share in integer fixed point, distinct-token ratio) so a
    pipeline can re-threshold without recomputing. Scale shape: one
    (id, tok, tf) shuffle (shared with every other token statistic), one
    bounded reduce to corpus scalars on a broadcast. Zero-token documents
    carry no tf rows and are excluded identically in both engines."""
    # Single tokenize pass + two-level aggregation, deliberately: an A/B at
    # the 100× fixture showed the "narrower shuffle" alternative (explode
    # only for max_tf, array-native size/array_join/array_distinct for the
    # other stats) runs ~2× SLOWER warm — it tokenizes the corpus twice and
    # adds a 5M-row join, and tokenization (not shuffle width) is the
    # dominant cost of this one-shuffle pipeline (VERDICT r7 #3 profiling).
    tf = (
        df.select(F.col(id_col).alias("id"), F.explode(tokens(text_col)).alias("tok"))
        .groupBy("id", "tok")
        .agg(F.count(F.lit(1)).alias("tf"), F.length("tok").alias("toklen"))
    )
    per_doc = tf.groupBy("id").agg(
        F.sum("tf").cast("long").alias("n_tokens"),
        F.sum(F.col("tf") * F.col("toklen")).cast("long").alias("sum_len"),
        F.max("tf").cast("long").alias("max_tf"),
        F.count(F.lit(1)).cast("long").alias("n_distinct"),
    )
    corpus = per_doc.agg(
        F.sum("n_tokens").cast("long").alias("t_tok"),
        F.sum("sum_len").cast("long").alias("t_len"),
        F.count(F.lit(1)).cast("long").alias("n_docs"),
    )
    return (
        per_doc.join(F.broadcast(corpus))
        .select(
            "id",
            "n_tokens",
            F.expr("(sum_len * 100) div n_tokens").alias("mean_tok_len_fp"),
            F.expr("(max_tf * 10000) div n_tokens").alias("max_tok_share_bp"),
            F.expr("(n_distinct * 10000) div n_tokens").alias("distinct_ratio_bp"),
            # DECIMAL(38,0) cross-multiplications (== DuckDB HUGEINT):
            # sum_len·t_tok pairs a per-doc char count with the CORPUS
            # token total, which wraps int64 well inside the 100 TB
            # envelope — non-ANSI Spark wraps silently, flipping flags
            # (ADVICE r7 #1 headroom class)
            F.expr("2 * CAST(n_tokens AS DECIMAL(38,0)) * n_docs < t_tok").alias(
                "flag_short"
            ),
            F.expr("CAST(n_tokens AS DECIMAL(38,0)) * n_docs > 2 * t_tok").alias(
                "flag_long"
            ),
            F.expr(
                "3 * CAST(sum_len AS DECIMAL(38,0)) * t_tok"
                " < 2 * CAST(n_tokens AS DECIMAL(38,0)) * t_len"
                " OR 2 * CAST(sum_len AS DECIMAL(38,0)) * t_tok"
                " > 3 * CAST(n_tokens AS DECIMAL(38,0)) * t_len"
            ).alias("flag_tok_len"),
            F.expr("max_tf * 5 > n_tokens").alias("flag_repetitive"),
        )
        .withColumn(
            "passes",
            ~(
                F.col("flag_short")
                | F.col("flag_long")
                | F.col("flag_tok_len")
                | F.col("flag_repetitive")
            ),
        )
    )
