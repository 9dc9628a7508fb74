"""Text-analysis operators over ``documents`` — LLM-pipeline extensions.

All hot paths are JVM built-ins (split/regexp/array functions) — no
Python UDFs, so these run at whole-stage-codegen speed and scale linearly
with document count (narrow transformations, zero shuffles except the
final stats aggregations).

Text is tokenized by ``functions.text.words``.  The word-count
operators read the corpus bag of words (tf, df, dl and the scalars) and
the BM25 postings built once per corpus version in ``retrieval_index``:
q_text_bm25 ranks the postings per document, and q_text_bm25_retrieval
derives its query terms per request and calls the index's bm25 search.
"""

from __future__ import annotations

import math

from pyspark.sql import Window
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from ..functions.text import words, words_sql
from ..sources.tables import load_table

_LN2 = math.log(2)


def _ln_det(n: str, lit) -> str:
    """Engine-deterministic ln of a positive integer expression.

    libm ln is NOT a cross-engine contract: Spark's Math.log and
    DuckDB's std::log may differ in the last ulp, and one flipped ulp
    near a round(x*1e6) boundary would shift a quantized value by 1 —
    breaking the value hash for every row containing it.  This builds
    ln from operations both engines compute IDENTICALLY:

      e  = length(bin(n)) - 1        -- exact integer exponent
      m  = n / 2^e  in [1, 2)        -- exact (power-of-two division)
      t  = (m-1)/(m+1), |t| <= 1/3   -- one IEEE divide each
      ln m = 2t * (1 + t^2/3 + t^4/5 + ... + t^14/15)   -- atanh series,
             fixed-order Horner, only IEEE +,*,/ (each correctly
             rounded by the standard, so bit-identical everywhere)
      ln n = ln m + e * ln2          -- ln2 as a shared parsed literal

    Truncation error <= (1/3)^17/17 ~ 8e-10 — three orders inside the
    0.5e-6 quantization slack and, more importantly, the SAME on every
    engine.  ``lit`` formats a double literal for the target dialect
    (repr round-trips, so both parse the identical double).
    """
    e = f"(length(bin({n})) - 1)"
    m = f"(CAST({n} AS DOUBLE) / power({lit(2.0)}, {e}))"
    t = f"(({m} - {lit(1.0)}) / ({m} + {lit(1.0)}))"
    t2 = f"({t} * {t})"
    poly = lit(1.0 / 15.0)
    for k in (13, 11, 9, 7, 5, 3):
        poly = f"({lit(1.0 / k)} + {t2} * {poly})"
    lnm = f"({lit(2.0)} * {t} * ({lit(1.0)} + {t2} * {poly}))"
    return f"({lnm} + CAST({e} AS DOUBLE) * {lit(_LN2)})"


def _ln_det_py(n: int) -> float:
    """_ln_det's recurrence in pure Python — the SAME fixed-order IEEE
    op sequence (exact power-of-two mantissa split, atanh series,
    Horner in the same association), so it returns the bit-identical
    double both engines' SQL form evaluates.  Lets driver-side loops
    (the unigram trainer's per-round costs) skip a vocab-sized Spark
    job without leaving the engine-deterministic contract."""
    e = n.bit_length() - 1
    m = float(n) / (2.0 ** e)
    t = (m - 1.0) / (m + 1.0)
    t2 = t * t
    poly = 1.0 / 15.0
    for k in (13, 11, 9, 7, 5, 3):
        poly = (1.0 / k) + t2 * poly
    lnm = 2.0 * t * (1.0 + t2 * poly)
    return lnm + float(e) * _LN2


def _lit_spark(x: float) -> str:
    return repr(float(x)) + "D"


def _lit_duck(x: float) -> str:
    return f"CAST('{float(x)!r}' AS DOUBLE)"

# Tiny deterministic stopword inventories for the language-ID heuristic.
STOPWORDS = {
    "en": ["the", "a", "of", "and", "to", "in", "is", "it", "that", "for"],
    "de": ["der", "die", "das", "und", "ist", "nicht", "ein", "zu", "mit", "auf"],
    "fr": ["le", "la", "les", "et", "est", "un", "une", "pas", "pour", "dans"],
    "es": ["el", "la", "los", "las", "es", "un", "una", "no", "por", "para"],
}

# A BPE-ish tokenizer regex: words, numbers, or single non-space symbols.
TOKEN_RE = r"[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\s]"


def _docs(spark, sf_dir):
    return load_table(spark, sf_dir, "documents")


def _index(spark, sf_dir):
    from .retrieval_index import index_for   # it imports this module
    return index_for(spark, sf_dir)


def q_text_stats(spark, sf_dir):
    """Per-document token/char statistics + whitespace token count."""
    d = _docs(spark, sf_dir)
    toks = words()
    return d.select(
        "doc_id",
        F.length("text").alias("n_chars_computed"),
        F.size(toks).alias("n_tokens_ws"),
        F.size(F.array_distinct(toks)).alias("n_unique_tokens"),
        F.size(F.regexp_extract_all(F.col("text"), F.lit(TOKEN_RE), 0)).alias("n_tokens_re"),
    )


def q_text_quality(spark, sf_dir):
    """Quality score: stopword ratio, uniqueness, mean word length.

    The classic cheap-filter stack for pretraining corpora; every term is
    an integer ratio -> one double division, engine-deterministic,
    rounded to 6 dp.
    """
    d = _docs(spark, sf_dir)
    toks = words()
    n = F.size(toks)
    uniq = F.size(F.array_distinct(toks))
    sw = F.size(F.array_intersect(
        F.array_distinct(toks),
        F.array(*[F.lit(w) for w in STOPWORDS["en"]])))
    mean_wlen = (F.length("text") - (n - 1)) / n     # chars minus spaces
    return d.select(
        "doc_id",
        n.alias("n_words"),
        F.round(uniq / n, 6).alias("uniq_ratio"),
        sw.alias("n_stopword_types"),
        F.round(mean_wlen, 6).alias("mean_word_len"),
        (n.between(20, 500) & (uniq / n > 0.2)).alias("passes_quality"),
    )


def q_text_langid(spark, sf_dir):
    """Stopword-hit language ID with deterministic tie-break (en>de>fr>es).

    The heuristic from the survey plan: score = |distinct words ∩
    language stopword set|; argmax with fixed preference order.
    """
    d = _docs(spark, sf_dir)
    toks = F.array_distinct(words())
    hits = {
        lang: F.size(F.array_intersect(
            toks, F.array(*[F.lit(w) for w in sws])))
        for lang, sws in STOPWORDS.items()
    }
    best = F.greatest(*hits.values())
    pred = (F.when(hits["en"] == best, "en")
             .when(hits["de"] == best, "de")
             .when(hits["fr"] == best, "fr")
             .otherwise("es"))
    out = d.select("doc_id", "lang",
                   *[h.alias(f"hits_{lg}") for lg, h in hits.items()],
                   F.when(best == 0, "unknown").otherwise(pred).alias("pred_lang"))
    return out


def q_text_fingerprint(spark, sf_dir):
    """Document fingerprint: md5 over whitespace-normalized lowercase text."""
    d = _docs(spark, sf_dir)
    norm = F.regexp_replace(F.lower(F.col("text")), r"\s+", " ")
    return d.select(
        "doc_id",
        F.md5(F.encode(norm, "UTF-8")).alias("fingerprint"),
        F.substring(F.md5(F.encode(norm, "UTF-8")), 1, 4).alias("fp_bucket"))


WINNOW_K = 8   # char k-gram length
WINNOW_W = 4   # winnowing window (guarantee: any match >= K+W-1 chars shares a fingerprint)


def q_text_winnow(spark, sf_dir):
    """Winnowing document fingerprints (Schleimer et al., SIGMOD'03).

    Per doc, row-locally: normalize whitespace/case -> char 8-gram hashes
    -> min hash of every 4-window -> distinct mins are the fingerprint
    set.  The hash basis is the first 16 hex chars of md5 (string order),
    chosen over xxhash64 so the oracle can reproduce it — the algorithm
    is hash-agnostic.  Zero shuffles: fingerprinting is a projection;
    only the (absent here) pair-matching phase would shuffle, keyed by
    fingerprint like minhash LSH bucket keys.
    """
    d = _docs(spark, sf_dir)
    norm = F.regexp_replace(F.lower(F.col("text")), r"\s+", " ")
    nd = d.select("doc_id", norm.alias("norm"))
    n = F.length("norm")
    hs = F.transform(
        F.sequence(F.lit(1), F.greatest(n - (WINNOW_K - 1), F.lit(1))),
        lambda i: F.substring(
            F.md5(F.encode(F.col("norm").substr(i, F.lit(WINNOW_K)), "UTF-8")),
            1, 16))
    withg = nd.select("doc_id", hs.alias("hs"))
    fps = F.array_distinct(F.transform(
        F.sequence(F.lit(1), F.greatest(F.size("hs") - (WINNOW_W - 1), F.lit(1))),
        lambda j: F.array_min(F.slice("hs", j, WINNOW_W))))
    return (withg.select("doc_id", F.size("hs").alias("n_grams"), fps.alias("fps"))
                 .select("doc_id", "n_grams",
                         F.size("fps").alias("n_fps"),
                         F.array_min("fps").alias("min_fp"),
                         F.array_max("fps").alias("max_fp")))


def q_text_ngram_freq(spark, sf_dir):
    """Corpus-level bigram frequency (explode -> count), top by count.

    The shuffle key is the bigram itself; at 100 TB this is the word-count
    shape — map-side partial counts absorb the heavy hitters.
    """
    d = _docs(spark, sf_dir)
    w = words()
    n = F.size(w)
    # sliced zip_with, not element_at-in-transform: see dedup._shingles
    bigrams = F.when(n >= 2, F.zip_with(
        F.slice(w, 1, n - 1), F.slice(w, 2, n - 1),
        lambda a, b: F.concat_ws(" ", a, b),
    )).otherwise(F.array())
    return (d.select(F.explode(bigrams).alias("bigram"))
             .groupBy("bigram")
             .agg(F.count(F.lit(1)).alias("freq"))
             .filter(F.col("freq") >= 10))


def q_text_tfidf(spark, sf_dir):
    """Top-3 TF-IDF terms per document (tf * ln((N+1)/(df+1))).

    The classic keyword-extraction / relevance-weighting pass over the
    bag of words' tf and df: one df join and a top-3 window per doc_id
    (uniform by construction).  Ties broken by (score desc, word asc)
    for a total order, so the oracle matches exactly.
    """
    ix = _index(spark, sf_dir)
    bag = ix.bag
    # N counts NULL-text rows too (the oracle's COUNT(*)); bag.n_docs not
    n_docs = F.lit(ix.doc_count()).cast("long")
    scored = (bag.tf.join(bag.df.select("word", "df"), "word")
              .withColumn("tfidf", F.round(
                  F.col("tf") * F.log((n_docs + 1) / (F.col("df") + 1)), 6)))
    w = Window.partitionBy("doc_id").orderBy(
        F.desc("tfidf"), F.asc("word"))
    return (scored.withColumn("rk", F.row_number().over(w))
            .filter(F.col("rk") <= 3)
            .select("doc_id", "word", "tf", "df", "tfidf", "rk"))


def q_text_inverted_index(spark, sf_dir):
    """Inverted index: word -> sorted posting list of doc_ids (df >= 2).

    The retrieval-side core of a dedup/search stack.  One shuffle keyed
    by word over the bag's distinct (doc, word) pairs; ``sort_array``
    makes the posting list deterministic regardless of task arrival
    order.  At 100 TB the posting list for a head word is the classic
    reducer-OOM: real
    systems shard hot words by (word, doc_id range) — same salting
    shape as scale.q_agg_salted — and delta-encode the sorted ids;
    df-band filtering (drop stopword-frequency words) bounds state
    before the heavy groupBy when the downstream consumer allows it.
    """
    # Posting list rides as a comma-joined string — the driver's oracle
    # canonicalizer can't hash list cells, and int→string renders
    # identically in both engines.
    return (_index(spark, sf_dir).bag.tf.groupBy("word")
            .agg(F.count(F.lit(1)).alias("df"),
                 F.concat_ws(",", F.transform(
                     F.sort_array(F.collect_list("doc_id")),
                     lambda x: x.cast("string"))).alias("postings"))
            .filter(F.col("df") >= 2))


PII_EMAIL = r"[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}"
PII_LONGNUM = r"\b[0-9]{6,}\b"


def q_text_scrub(spark, sf_dir):
    """PII scrubbing pass: mask email-shaped and long-digit-run spans,
    report per-document redaction counts.

    The standard pre-training scrub: two regexp passes, pure projection
    (zero shuffles, whole-stage codegen), linear in corpus bytes — the
    shape that matters at 100 TB since every byte flows through exactly
    once.  Counts are computed on the ORIGINAL text so the query also
    serves as a redaction audit.
    """
    d = _docs(spark, sf_dir)
    scrubbed = F.regexp_replace(
        F.regexp_replace(F.col("text"), PII_EMAIL, "<EMAIL>"),
        PII_LONGNUM, "<NUM>")
    return d.select(
        "doc_id",
        F.size(F.regexp_extract_all(F.col("text"), F.lit(PII_EMAIL), 0)).alias("n_emails"),
        F.size(F.regexp_extract_all(F.col("text"), F.lit(PII_LONGNUM), 0)).alias("n_longnums"),
        F.length(scrubbed).alias("n_chars_scrubbed"),
        F.md5(F.encode(scrubbed, "UTF-8")).alias("scrubbed_digest"))


def q_heavy_hitters(spark, sf_dir):
    """Corpus heavy hitters: words above 0.1% relative frequency.

    The frequent-items pass every curation pipeline runs (stopword
    discovery, boilerplate detection) over the bag's word counts, with
    the one-row token total broadcast.  The
    threshold is cross-multiplied (cnt·1000 > total) so selection stays
    in exact integer arithmetic at any scale; only the reported
    rel_freq divides.
    """
    bag = _index(spark, sf_dir).bag
    return (bag.df.crossJoin(F.broadcast(bag.scal.select("total_words")))
            .filter(F.col("cf") * 1000 > F.col("total_words"))
            .select("word", F.col("cf").alias("cnt"),
                    F.round(F.col("cf") / F.col("total_words"), 6)
                     .alias("rel_freq")))


def _token_ngrams(w, n: int):
    """Array of space-joined token n-grams from a token array — sliced
    zip_with chain (no explode, no per-element re-split; the dedup
    _shingles lesson).  Empty array when the doc has < n tokens."""
    ln = F.size(w) - F.lit(n - 1)
    g = F.slice(w, 1, F.greatest(ln, F.lit(0)))
    for i in range(1, n):
        g = F.zip_with(g, F.slice(w, i + 1, F.greatest(ln, F.lit(0))),
                       lambda a, b: F.concat_ws(" ", a, b))
    return F.when(F.size(w) >= n, g).otherwise(F.array().cast("array<string>"))


def _bigrams(d, key: str = "doc_id"):
    """(key, prev, word): every adjacent token pair of each document."""
    w = words()
    n = F.size(w)
    return (d.select(key, F.explode(F.zip_with(
                F.slice(w, 1, n - 1), F.slice(w, 2, n - 1),
                lambda a, b: F.struct(a.alias("prev"), b.alias("word"))))
             .alias("p"))
             .select(key, "p.prev", "p.word"))


def q_text_repetition(spark, sf_dir):
    """Gopher-style repetition filters (Rae et al. 2021, "Scaling
    Language Models", Table A1): per document, the fraction of tokens
    covered by the most frequent 2-gram and by duplicated 5-grams —
    the standard cheap signals for loop/boilerplate text in pretraining
    corpora.  keep = top2_frac <= 0.20 AND dup5_frac <= 0.15 (the
    published thresholds).

    One explode feeds BOTH gram sizes (grams ride tagged '2:'/'5:'), so
    the whole operator is two shuffles — (doc, gram) count then per-doc
    agg — and one broadcast-free join back to token counts.  Fractions
    are integer-ratio -> one double division, rounded 6 dp.
    """
    d = _docs(spark, sf_dir)
    w = words()
    base = d.select("doc_id", F.size(w).alias("n_tokens"),
                    F.concat(
                        F.transform(_token_ngrams(w, 2),
                                    lambda g: F.concat(F.lit("2:"), g)),
                        F.transform(_token_ngrams(w, 5),
                                    lambda g: F.concat(F.lit("5:"), g)),
                    ).alias("grams"))
    counts = (base.select("doc_id", F.explode("grams").alias("g"))
              .groupBy("doc_id", "g")
              .agg(F.count(F.lit(1)).alias("cnt")))
    per_doc = (counts.groupBy("doc_id").agg(
        F.max(F.when(F.col("g").startswith("2:"), F.col("cnt"))
               .otherwise(0)).alias("top2_cnt"),
        F.sum(F.when(F.col("g").startswith("5:") & (F.col("cnt") >= 2),
                     F.col("cnt")).otherwise(0)).alias("dup5_inst")))
    return (base.select("doc_id", "n_tokens").join(per_doc, "doc_id", "left")
            .select(
                "doc_id", "n_tokens",
                F.round(F.coalesce(F.col("top2_cnt"), F.lit(0)) * 2
                        / F.col("n_tokens"), 6).alias("top2_frac"),
                F.round(F.coalesce(F.col("dup5_inst"), F.lit(0)) * 5
                        / F.col("n_tokens"), 6).alias("dup5_frac"))
            .withColumn("keep", (F.col("top2_frac") <= 0.20)
                        & (F.col("dup5_frac") <= 0.15)))


# Eval membership + contamination n-gram order: the public-standard shape
# is GPT-3's 13-gram rule; this synthetic word-soup corpus has zero exact
# 13- (or even 8-) gram collisions at test SF, so 3-grams keep the
# operator's join path non-trivially exercised (171 contaminated docs at
# sf0.01).  The order is a constant — scale it with real corpora.
CONTAM_N = 3
EVAL_MOD = 97


def q_text_contamination(spark, sf_dir):
    """Train/eval contamination check: for every train document, the
    fraction of its n-gram shingles that appear in ANY eval-set document
    (eval = doc_id % 97 == 0, a deterministic ~1% holdout).  The
    benchmark-decontamination pass every serious pretraining pipeline
    runs (n-gram overlap a la GPT-3's 13-gram rule, order scaled down
    for the synthetic corpus — see CONTAM_N).

    Scale shape: eval-side distinct grams BROADCAST to the train-side
    explode (eval sets are tiny vs the corpus; at 100 TB swap the
    broadcast for a bloom filter built over the same gram set — same
    join key, probabilistic membership).  Output: contaminated docs only
    (shared > 0) — the action list, not the full corpus.
    """
    d = _docs(spark, sf_dir)
    w = words()
    grams = d.select("doc_id", F.explode(_token_ngrams(w, CONTAM_N)).alias("g"))
    eval_grams = (grams.filter(F.col("doc_id") % EVAL_MOD == 0)
                  .select("g").distinct())
    train = (grams.filter(F.col("doc_id") % EVAL_MOD != 0)
             .groupBy("doc_id")
             .agg(F.count(F.lit(1)).alias("n_grams"),
                  F.size(F.collect_set("g")).alias("n_distinct")))
    hits = (grams.filter(F.col("doc_id") % EVAL_MOD != 0)
            .select("doc_id", "g").distinct()
            .join(F.broadcast(eval_grams), "g")
            .groupBy("doc_id")
            .agg(F.count(F.lit(1)).alias("n_shared")))
    return (train.join(hits, "doc_id")
            .select("doc_id", "n_grams", "n_shared",
                    F.round(F.col("n_shared") / F.col("n_distinct"), 6)
                     .alias("contamination")))


CONTAM_BLOOM_BITS = 1 << 20   # m: fixed bitmap budget (128 KB) at ANY eval size
CONTAM_BLOOM_K = 4            # probes per gram


def _contam_grams(docs):
    """(doc_id, g) 3-gram relation of a documents relation — shared by
    the batch bloom decontaminator and its streaming replay twin.

    explode_OUTER + null-filter (r12): plain explode's inferred
    non-empty filter re-evaluates the zip_with gram chain in a Filter
    below the Generate (and below a spread exchange in the streaming
    merge); g is never null, so rows match the inner explode."""
    w = words()
    return (docs.select("doc_id",
                        F.explode_outer(_token_ngrams(w, CONTAM_N))
                        .alias("g"))
            .filter(F.col("g").isNotNull()))


def _bloom_probe_positions(col):
    """k probe positions per gram: the four 8-hex-char chunks of ONE
    md5 — engine-portable (DuckDB recomputes them identically)."""
    h = F.md5(F.encode(col, "UTF-8"))
    return F.array(*[
        F.conv(F.substring(h, 1 + 8 * i, 8), 16, 10).cast("long")
        % CONTAM_BLOOM_BITS
        for i in range(CONTAM_BLOOM_K)])


# 32 bits per slot word (not 64): DuckDB raises on 1::BIGINT << 63
# (checked signed overflow), so the portable packing keeps the
# shift <= 31.  Bitmap budget is unchanged; the slot table is
# m/32 = 32,768 rows (~256 KB) — still fixed-size at any eval size.
# (Functions, not module constants: building a Column needs an active
# SparkContext, which a bare import must not require.)
def _bloom_slot():
    return F.shiftright(F.col("pos"), 5)


# python-side shiftleft takes only literal counts; the SQL form shifts
# by a column
def _bloom_bit():
    return F.expr("shiftleft(1L, cast(pos % 32 as int))")


def bloom_partial(eval_docs):
    """(slot, word) bloom bitmap of a documents relation's eval grams —
    a partial+final ``bit_or`` build with no driver bitmap assembly.
    ``bit_or`` is a commutative idempotent MONOID, so partial bitmaps
    from any partitioning of the eval corpus (including streaming
    micro-batches) merge to the same filter — the property
    stream_bloom_build rides."""
    return (_contam_grams(eval_docs)
            .select(F.explode(_bloom_probe_positions(F.col("g")))
                    .alias("pos"))
            .select(_bloom_slot().alias("slot"), _bloom_bit().alias("b"))
            .groupBy("slot").agg(F.bit_or("b").alias("word")))


def bloom_probe_report(spark, sf_dir, bloom):
    """Probe the TRAIN side of the corpus against a finalized
    (slot, word) bloom relation and emit the contamination report —
    the exact output contract of q_text_contamination_bloom, shared
    verbatim with the streaming replay twin."""
    grams = _contam_grams(_docs(spark, sf_dir))
    probed = (grams.filter(F.col("doc_id") % EVAL_MOD != 0)
              .select("doc_id", "g").distinct()
              .select("doc_id", "g",
                      F.explode(_bloom_probe_positions(F.col("g")))
                      .alias("pos"))
              .select("doc_id", "g", _bloom_slot().alias("slot"),
                      _bloom_bit().alias("b")))
    hits = (probed.join(F.broadcast(bloom), "slot")
            .filter(F.col("b").bitwiseAND(F.col("word")) != 0)
            .groupBy("doc_id", "g")
            .agg(F.count(F.lit(1)).alias("k_hit"))
            .filter(F.col("k_hit") == CONTAM_BLOOM_K)
            .groupBy("doc_id")
            .agg(F.count(F.lit(1)).alias("n_shared_bloom")))
    train = (grams.filter(F.col("doc_id") % EVAL_MOD != 0)
             .groupBy("doc_id")
             .agg(F.count(F.lit(1)).alias("n_grams"),
                  F.size(F.collect_set("g")).alias("n_distinct")))
    return (train.join(hits, "doc_id")
            .select("doc_id", "n_grams", "n_shared_bloom",
                    F.round(F.col("n_shared_bloom") / F.col("n_distinct"), 6)
                     .alias("contamination_bloom")))


def q_text_contamination_bloom(spark, sf_dir):
    """q_text_contamination's 100 TB form: membership against a BLOOM
    FILTER of the eval grams instead of the gram set itself.

    The broadcast in the exact operator grows with the eval corpus; the
    bloom relation here is capped at m/64 = 16,384 (slot, word) rows —
    ~128 KB — no matter how many eval grams exist, which is the whole
    point at scale.  Everything is JVM built-ins and the filter is built
    distributively:

    * build: eval grams -> k = 4 md5-chunk probe positions ->
      (slot = pos >> 5, 1 << (pos & 31)) -> groupBy(slot).bit_or —
      partial+final, no driver bitmap assembly;
    * probe: train grams explode their k probes, broadcast-join the slot
      table, and a gram counts as a hit only when ALL k probes find
      their bit set.

    One-sided error: n_shared_bloom >= the exact operator's n_shared
    per document (false positives only; at m = 2^20, k = 4 and this
    corpus's gram count the FP rate is ~1e-9).  The k probe positions
    are the four 8-hex-char chunks of ONE md5 per gram (vs the earlier
    4 seeded xxhash64 calls — one digest vs four hashes, a wash in
    cost), which makes the whole filter engine-portable: the driver now
    gets a FULL value oracle; the superset invariant and the FP
    envelope stay pinned against the exact operator in tests.
    """
    ev = _docs(spark, sf_dir).filter(F.col("doc_id") % EVAL_MOD == 0)
    return bloom_probe_report(spark, sf_dir, bloom_partial(ev))


def q_text_lm_score(spark, sf_dir):
    """Unigram-LM document quality score (the CCNet-style perplexity
    filter, self-trained): per document, the mean log-probability of its
    tokens under the corpus unigram distribution — low scorers are
    gibberish/rare-token soup, high scorers are boilerplate.

    Determinism across engines: summing raw double log-probs is
    float-addition-order-dependent, so each DISTINCT word's logp is
    quantized ONCE to integer micro-nats (round((ln cnt - ln total)
    * 1e6) -> BIGINT) and per-document totals are integer sums —
    associative, every engine agrees bit-for-bit; only the final mean
    divides.  The ln itself is ``_ln_det`` (exponent/mantissa split +
    fixed-order polynomial), not libm — so the quantized values are
    bit-identical across engines BY CONSTRUCTION, not by hoping two
    libms round the last ulp the same way near a *1e6 boundary.

    Scale shape: the model is the bag's word counts and token total;
    it joins back onto the bag's (doc, word, tf) counts by word —
    broadcast here (bounded vocab), a plain shuffle join when the
    vocabulary outgrows broadcast.  Doc totals partition on doc_id.
    """
    bag = _index(spark, sf_dir).bag
    logp = (f"CAST(round(({_ln_det('cf', _lit_spark)}"
            f" - {_ln_det('total_words', _lit_spark)}) * 1e6, 0) AS BIGINT)")
    model = (bag.df.select("word", "cf", *bag.scalars())
             .selectExpr("word", f"{logp} AS logp_u"))
    return (bag.tf.join(F.broadcast(model), "word")
            .groupBy("doc_id")
            .agg(F.sum("tf").alias("n_tokens"),
                 F.sum(F.col("tf") * F.col("logp_u")).alias("sum_logp_u"))
            .select("doc_id", "n_tokens", "sum_logp_u",
                    F.round(F.col("sum_logp_u") / F.col("n_tokens") / 1e6, 6)
                     .alias("mean_logp")))


def q_text_bigram_lm_score(spark, sf_dir):
    """Interpolated BIGRAM-LM quality score — the unigram filter's
    stronger sibling: per document, the mean log-probability of each
    token given its predecessor under p = ½·p_bigram + ½·p_unigram
    (Jelinek-Mercer interpolation, λ = ½).

    The whole probability is ONE integer rational:
        p(b|a) = (c_ab·N + c_a·c_b) / (2·c_a·N)
    so log p = _ln_det(numerator) - _ln_det(denominator) — engine-
    deterministic by construction, quantized once per DISTINCT bigram
    to integer micro-nats, summed associatively per document (the
    unigram operator's determinism recipe, extended to a rational).
    All counts are corpus-wide BIGINTs; products stay under 2^63 for
    any corpus where N² < 9.2e18 (N < 3e9 tokens — beyond that, shift
    to DECIMAL ratios).

    Scale shape: bigram counts are one word-bigram-shaped shuffle (the
    unigram counts and N are the bag's); the model (distinct bigrams)
    joins back by (prev, word) — broadcast at test SF, a plain
    co-partitioned shuffle join at vocabulary scale.
    Documents with a single token have no bigram and are excluded (the
    oracle mirrors).
    """
    bg = _bigrams(_docs(spark, sf_dir))
    bag = _index(spark, sf_dir).bag
    uni = bag.df.select("word", F.col("cf").alias("c"))
    bi = bg.groupBy("prev", "word").agg(F.count(F.lit(1)).alias("c_ab"))
    num = "(c_ab * N + c_a * c_b)"
    den = "(2 * c_a * N)"
    logp = (f"CAST(round(({_ln_det(num, _lit_spark)}"
            f" - {_ln_det(den, _lit_spark)}) * 1e6, 0) AS BIGINT)")
    model = (bi.join(uni.select(F.col("word").alias("prev"),
                                F.col("c").alias("c_a")), "prev")
               .join(uni.select("word", F.col("c").alias("c_b")), "word")
               .withColumn("N", F.lit(bag.total_words).cast("long"))
               .selectExpr("prev", "word", f"{logp} AS logp_bi"))
    return (bg.join(F.broadcast(model), ["prev", "word"])
              .groupBy("doc_id")
              .agg(F.count(F.lit(1)).alias("n_bigrams"),
                   F.sum("logp_bi").alias("sum_logp_bi"))
              .select("doc_id", "n_bigrams", "sum_logp_bi",
                      F.round(F.col("sum_logp_bi") / F.col("n_bigrams") / 1e6, 6)
                       .alias("mean_logp")))


def q_text_kneser_ney_score(spark, sf_dir):
    """Kneser-Ney BIGRAM-LM quality score — the production-grade
    smoother next to the Jelinek-Mercer operator (KN backs off to the
    CONTINUATION distribution: how many distinct left contexts a word
    appears in, not its raw frequency — the fix for 'Francisco' (high
    count, one context) outranking genuinely versatile words; Kneser &
    Ney 1995, the smoother inside every KenLM quality filter).

    Absolute discount D = 3/4 makes the whole probability ONE integer
    rational:
        p(w|a) = [(4·c_aw - 3)·B + 3·N1+(a·)·N1+(·w)] / (4·c_a·B)
    with N1+(a·) = distinct continuations of a, N1+(·w) = distinct
    left contexts of w, B = distinct bigram types.  Every document
    bigram is corpus-observed (the corpus is its own training set),
    so c_aw >= 1 and the discount max() never binds.  log p =
    _ln_det(num) - _ln_det(den), quantized once per DISTINCT bigram
    to integer micro-nats, summed associatively per document — the
    bigram_lm_score determinism recipe on a different smoother.
    Products stay under 2^63 while N·B < 9.2e18.

    Scale shape identical to the JM operator: one bigram-shaped
    shuffle for counts (unigram counts from the bag of words), model
    joins back on (prev, word) — broadcast at test SF, co-partitioned
    at vocabulary scale; the two context-diversity relations are
    vocabulary-sized aggregates of the bigram relation.
    """
    bg = _bigrams(_docs(spark, sf_dir))
    uni = (_index(spark, sf_dir).bag.df
           .select("word", F.col("cf").alias("c")))
    bi = bg.groupBy("prev", "word").agg(F.count(F.lit(1)).alias("c_ab"))
    n1p = bi.groupBy("prev").agg(F.count(F.lit(1)).alias("n1p_a"))
    n1l = bi.groupBy("word").agg(F.count(F.lit(1)).alias("n1l_w"))
    btypes = bi.agg(F.count(F.lit(1)).alias("B"))
    num = "((4 * c_ab - 3) * B + 3 * n1p_a * n1l_w)"
    den = "(4 * c_a * B)"
    logp = (f"CAST(round(({_ln_det(num, _lit_spark)}"
            f" - {_ln_det(den, _lit_spark)}) * 1e6, 0) AS BIGINT)")
    model = (bi.join(n1p, "prev").join(n1l, "word")
               .join(uni.select(F.col("word").alias("prev"),
                                F.col("c").alias("c_a")), "prev")
               .crossJoin(F.broadcast(btypes))
               .selectExpr("prev", "word", f"{logp} AS logp_kn"))
    return (bg.join(F.broadcast(model), ["prev", "word"])
              .groupBy("doc_id")
              .agg(F.count(F.lit(1)).alias("n_bigrams"),
                   F.sum("logp_kn").alias("sum_logp_kn"))
              .select("doc_id", "n_bigrams", "sum_logp_kn",
                      F.round(F.col("sum_logp_kn")
                              / F.col("n_bigrams") / 1e6, 6)
                       .alias("mean_logp")))


SEQ_LEN = 2048        # training sequence length in whitespace tokens
PACK_BUCKET = 1024    # docs per prefix-sum offset bucket


def q_seq_packing(spark, sf_dir):
    """GPT-style sequence packing: conceptually concatenate every
    document's tokens in doc_id order and cut the stream every SEQ_LEN
    tokens; per document, report the first/last training sequence it
    lands in and how many it spans — the shard-boundary accounting a
    pretraining data pipeline runs before writing packed examples.

    Scale: the naive global running sum is a single-partition window
    over the whole corpus — the classic prefix-sum scale-killer.  This
    is the two-level distributed form: an intra-bucket cumulative sum
    partitioned by bucket (doc_id grouped 1024-per-bucket) plus
    per-bucket exclusive offsets computed by a window over the BUCKET
    SUMMARY — one row per 1024 documents, thousands of rows even at
    100 TB, broadcast back to the fact side.  All integer arithmetic,
    so the result is engine-exact and partitioning-independent.
    """
    d = _docs(spark, sf_dir)
    toks = d.select(
        "doc_id",
        F.size(words()).alias("n_tokens"),
        (F.col("doc_id") - F.col("doc_id") % PACK_BUCKET).alias("bkt"))
    bsum = toks.groupBy("bkt").agg(F.sum("n_tokens").alias("s"))
    w_off = (Window.orderBy("bkt")
             .rowsBetween(Window.unboundedPreceding, -1))
    offs = bsum.select(
        "bkt", F.coalesce(F.sum("s").over(w_off), F.lit(0)).alias("off"))
    w_in = Window.partitionBy("bkt").orderBy("doc_id")
    return (toks.join(F.broadcast(offs), "bkt")
            .withColumn("cum_end", F.col("off") + F.sum("n_tokens").over(w_in))
            .selectExpr(
                "doc_id", "n_tokens",
                f"(cum_end - n_tokens) DIV {SEQ_LEN} AS first_seq",
                f"(cum_end - 1) DIV {SEQ_LEN} AS last_seq",
                f"CAST((cum_end - 1) DIV {SEQ_LEN}"
                f" - (cum_end - n_tokens) DIV {SEQ_LEN} + 1 AS INT)"
                " AS n_seqs"))


CHUNK_LEN = 500      # characters per chunk
CHUNK_STRIDE = 400   # 100-char overlap between neighbors


def q_doc_chunking(spark, sf_dir):
    """RAG-style overlapping character chunking: each document splits
    into CHUNK_LEN-char windows every CHUNK_STRIDE chars (100-char
    overlap so retrieval never loses a boundary sentence), emitting per
    chunk its index, offset, length, and content digest — the step in
    front of every embed-and-index pipeline.

    Scale: pure row-local sequence+posexplode+substring — ZERO shuffles;
    at 100 TB this is a narrow map over the scan and the chunk table
    writes straight out of the executors.  Digests (md5, lowercase hex
    in both engines) stand in for chunk text so the result stays
    hash-comparable without shipping the corpus twice.
    """
    d = _docs(spark, sf_dir)
    n = F.length("text")
    starts = F.sequence(F.lit(0), F.greatest(n - 1, F.lit(0)),
                        F.lit(CHUNK_STRIDE))
    return (d.select("doc_id", "text",
                     F.posexplode(starts).alias("chunk_idx", "chunk_start"))
            .select("doc_id", "chunk_idx", "chunk_start",
                    F.expr(f"substr(text, chunk_start + 1, {CHUNK_LEN})")
                     .alias("sub"))
            .select("doc_id", "chunk_idx", "chunk_start",
                    F.length("sub").alias("chunk_len"),
                    F.md5(F.encode("sub", "UTF-8")).alias("chunk_md5")))


def q_chunk_boilerplate(spark, sf_dir):
    """Boilerplate detection at chunk granularity: chunks whose content
    digest recurs across >= 2 DISTINCT documents (headers, footers,
    license blocks, nav text) — the removal list a curation pipeline
    anti-joins against before training.  Composes q_doc_chunking: one
    digest-keyed aggregation, shuffling 16-byte digests (the exact-dedup
    scale rule — never chunk text).
    """
    ch = q_doc_chunking(spark, sf_dir)
    return (ch.groupBy("chunk_md5")
            .agg(F.countDistinct("doc_id").alias("n_docs"),
                 F.count(F.lit(1)).alias("n_occurrences"),
                 F.min("doc_id").alias("first_doc_id"))
            .filter(F.col("n_docs") >= 2))


TFIDF_PAIR_DF_CAP = 20     # posting-list elision: drop head terms
TFIDF_PAIR_MIN_SHARED = 2  # pairs must share >= 2 rare terms


def q_tfidf_doc_pairs(spark, sf_dir):
    """Sparse tf-idf document-pair similarity through the inverted
    index — the lexical (IR-style) near-dup/similarity signal next to
    the embedding-cosine one: pairs of documents sharing >= 2 rare
    terms, scored by the tf-idf dot product and its cosine.

    Terms are word 3-grams (this corpus's ~30-word vocabulary makes
    unigrams degenerate — the simhash/shingle lesson) and terms with
    df > 20 are elided BEFORE pair generation: candidate fan-out per
    term is then <= df_cap^2, the posting-list-bounding trick every
    production similarity join uses (PPJoin's prefix filter is the
    sharper version; the cap is its blunt, fully-oracle-able form).

    Determinism: idf quantizes once per term to integer MILLI-nats via
    the engine-deterministic _ln_det (milli not micro: w = tf*idf stays
    < 2^18, so summed squares of corpus-sized docs stay far inside
    BIGINT in DuckDB's checked arithmetic); dot products and norms are
    then exact integer sums, and only the final cosine divides (same
    fixed IEEE expression both engines).

    Scale: one (doc, term) count shuffle, one term-keyed model join
    (broadcast-able while the rare-term vocabulary fits, a plain
    co-partitioned join beyond), one pair shuffle of (doc_a, doc_b)
    id pairs with integer weights — document text never reaches the
    pair stage.
    """
    d = _docs(spark, sf_dir)
    grams = d.select("doc_id",
                     F.explode(_token_ngrams(words(), 3))
                      .alias("t"))
    tf = grams.groupBy("doc_id", "t").agg(F.count(F.lit(1)).alias("tf"))
    dfc = (tf.groupBy("t").agg(F.count(F.lit(1)).alias("df"))
             .filter(F.col("df") <= TFIDF_PAIR_DF_CAP))
    n = d.agg(F.count(F.lit(1)).alias("n_docs"))
    idf = (f"CAST(round(({_ln_det('(n_docs + 1)', _lit_spark)}"
           f" - {_ln_det('(df + 1)', _lit_spark)}) * 1e3, 0) AS BIGINT)")
    model = dfc.crossJoin(F.broadcast(n)).selectExpr("t", f"{idf} AS idf_m")
    wts = (tf.join(model, "t")
             .select("doc_id", "t", (F.col("tf") * F.col("idf_m")).alias("w"))
             .cache())
    norms = wts.groupBy("doc_id").agg(F.sum(F.col("w") * F.col("w")).alias("sq"))
    a = wts.select(F.col("doc_id").alias("doc_a"), "t", F.col("w").alias("wa"))
    b = wts.select(F.col("doc_id").alias("doc_b"), "t", F.col("w").alias("wb"))
    pairs = (a.join(b, "t")
              .filter(F.col("doc_a") < F.col("doc_b"))
              .groupBy("doc_a", "doc_b")
              .agg(F.count(F.lit(1)).alias("n_shared"),
                   F.sum(F.col("wa") * F.col("wb")).alias("s_ab"))
              .filter(F.col("n_shared") >= TFIDF_PAIR_MIN_SHARED))
    na = norms.select(F.col("doc_id").alias("doc_a"), F.col("sq").alias("sq_a"))
    nb = norms.select(F.col("doc_id").alias("doc_b"), F.col("sq").alias("sq_b"))
    return (pairs.join(na, "doc_a").join(nb, "doc_b")
                 .selectExpr("doc_a", "doc_b", "n_shared", "s_ab",
                             "CAST(floor(CAST(s_ab AS DOUBLE)"
                             " / sqrt(CAST(sq_a AS DOUBLE)"
                             " * CAST(sq_b AS DOUBLE)) * 1e6) AS BIGINT)"
                             " AS cos_e6"))


PMI_DF_MIN = 5     # vocabulary floor: words must appear in >= 5 docs
PMI_MIN_COOC = 5   # emit pairs co-occurring in >= 5 docs


def q_text_pmi_pairs(spark, sf_dir):
    """Pointwise mutual information of word pairs over document
    co-occurrence: PMI(a,b) = ln(N * c_ab / (c_a * c_b)) for words
    co-occurring in >= 5 documents — the classic collocation /
    association-mining statistic (phrase discovery, embedding
    evaluation sets).

    Determinism: the four log terms are each the engine-deterministic
    ``_ln_det`` of a plain BIGINT count, combined in one fixed IEEE
    expression (ln N + ln c_ab - ln c_a - ln c_b) and quantized ONCE
    to integer micro-nats — the sum form keeps every _ln_det argument
    a raw count, so nothing overflows at any corpus size (the rational
    form N * c_ab would pass 2^63 around N ~ 10^10).

    Scale: doc-distinct words and df are the bag's; the vocabulary
    floor (df >= 5 — production uses a top-K vocab) bounds the per-doc pair
    fan-out to |V ∩ doc|^2; pair counts are one (word_a, word_b)
    shuffle with map-side combine.  c_a/c_b ride the pair rows as
    functional attributes — no second join against the vocabulary.
    """
    ix = _index(spark, sf_dir)
    bag = ix.bag
    dfc = (bag.df.filter(F.col("df") >= PMI_DF_MIN)
                 .select("word", F.col("df").alias("c")))
    dwf = bag.tf.select("doc_id", "word").join(dfc, "word")
    a = dwf.select("doc_id", F.col("word").alias("word_a"),
                   F.col("c").alias("c_a"))
    b = dwf.select("doc_id", F.col("word").alias("word_b"),
                   F.col("c").alias("c_b"))
    pairs = (a.join(b, "doc_id")
              .filter(F.col("word_a") < F.col("word_b"))
              .groupBy("word_a", "word_b", "c_a", "c_b")
              .agg(F.count(F.lit(1)).alias("c_ab"))
              .filter(F.col("c_ab") >= PMI_MIN_COOC))
    pmi = (f"CAST(round(({_ln_det('n_docs', _lit_spark)}"
           f" + {_ln_det('c_ab', _lit_spark)}"
           f" - {_ln_det('c_a', _lit_spark)}"
           f" - {_ln_det('c_b', _lit_spark)}) * 1e6, 0) AS BIGINT)")
    # N counts every documents row (the oracle's COUNT(*))
    return (pairs.withColumn("n_docs", F.lit(ix.doc_count()).cast("long"))
                 .selectExpr("word_a", "word_b", "c_a", "c_b", "c_ab",
                             f"{pmi} AS pmi_u"))


SEG_WORDS = 8      # non-overlapping word-segment width for line dedup


def q_remove_boilerplate(spark, sf_dir):
    """Frequent-segment removal — the RefinedWeb/CCNet "line dedup"
    pass, applied: split every document into non-overlapping 8-word
    segments (this corpus has no newlines; fixed word windows stand in
    for lines), drop every segment whose digest recurs in >= 2 DISTINCT
    documents (headers, footers, nav text, license blocks), and emit
    the documents REASSEMBLED from their surviving segments in order.
    Complements chunk_boilerplate (which only emits the removal list).

    Scale: the recurrence count shuffles (digest, doc_id) pairs only —
    never segment text (Catalyst prunes the seg column off that
    branch); the removal is a broadcast-able LEFT ANTI join on digests;
    reassembly groups a document's OWN segments — per-group state is
    bounded by the document row itself (docs are row-sized by
    construction), unlike the unbounded per-user history the funnel fix
    removed.  Documents whose every segment is boilerplate drop out
    (both engines construct identically).
    """
    d = _docs(spark, sf_dir)
    # segs feeds the recurrence count, the per-doc totals AND the
    # anti-join — three plan references, each re-running the segment
    # explode + md5 without a cache
    segs = (d.select("doc_id", F.posexplode(F.expr(
                f"transform(sequence(0, (size({words_sql()}) - 1) div {SEG_WORDS}),"
                f" i -> array_join(slice({words_sql()}, i * {SEG_WORDS} + 1,"
                f" {SEG_WORDS}), ' '))")).alias("seg_idx", "seg"))
             .withColumn("dg", F.md5(F.encode("seg", "UTF-8")))
             .cache())
    boiler = (segs.groupBy("dg")
                  .agg(F.countDistinct("doc_id").alias("nd"))
                  .filter(F.col("nd") >= 2)
                  .select("dg"))
    totals = segs.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_segs"))
    kept = segs.join(boiler, "dg", "left_anti")
    return (kept.groupBy("doc_id")
                .agg(F.count(F.lit(1)).alias("n_kept"),
                     F.array_join(F.transform(
                         F.array_sort(F.collect_list(
                             F.struct("seg_idx", "seg"))),
                         lambda s: s["seg"]), " ").alias("clean_text"))
                .join(totals, "doc_id")
                .select("doc_id", "n_segs", "n_kept", "clean_text"))


def q_corpus_line_dedup(spark, sf_dir):
    """C4-style global line dedup, KEEP-FIRST form: every 8-word
    segment keeps exactly ONE copy corpus-wide — the occurrence with
    the smallest (doc_id, seg_idx) — and all later occurrences are
    removed; documents are reassembled from their surviving segments.
    Complements text_remove_boilerplate (the RefinedWeb variant, which
    drops ALL copies of any segment seen in >= 2 docs): C4 preserves
    one canonical copy, so unique content inside partially-duplicated
    documents survives.

    Scale: ownership is decided on the SLIM (doc_id, seg_idx, digest)
    projection — one digest-keyed partial+final min(struct) aggregate,
    16-byte digests + two ints on the wire, never segment text; the
    winner keys (two ints per distinct segment) join back on
    (doc_id, seg_idx), and reassembly groups a document's own segments
    (bounded by the document row, the remove_boilerplate argument).
    Documents whose every segment is owned elsewhere drop out (both
    engines construct identically).
    """
    d = _docs(spark, sf_dir)
    # same 3-reference fanout as q_remove_boilerplate — cache once
    segs = (d.select("doc_id", F.posexplode(F.expr(
                f"transform(sequence(0, (size({words_sql()}) - 1) div {SEG_WORDS}),"
                f" i -> array_join(slice({words_sql()}, i * {SEG_WORDS} + 1,"
                f" {SEG_WORDS}), ' '))")).alias("seg_idx", "seg"))
             .withColumn("dg", F.md5(F.encode("seg", "UTF-8")))
             .cache())
    owner = (segs.select("doc_id", "seg_idx", "dg")
                 .groupBy("dg")
                 .agg(F.min(F.struct("doc_id", "seg_idx")).alias("o"))
                 .select(F.col("o.doc_id").alias("doc_id"),
                         F.col("o.seg_idx").alias("seg_idx")))
    totals = segs.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_segs"))
    kept = segs.join(owner, ["doc_id", "seg_idx"])
    return (kept.groupBy("doc_id")
                .agg(F.count(F.lit(1)).alias("n_kept"),
                     F.array_join(F.transform(
                         F.array_sort(F.collect_list(
                             F.struct("seg_idx", "seg"))),
                         lambda s: s["seg"]), " ").alias("clean_text"))
                .join(totals, "doc_id")
                .select("doc_id", "n_segs", "n_kept", "clean_text"))


BM25_TOP = 3


def _bm25_e6_expr(lit) -> str:
    """BM25 (k1=1.2, b=0.75) as one fixed-order expression over the
    integer columns tf, df, dl and the one-row scalars n_docs /
    total_words, shared by both dialects.  The idf ln((N-df+.5)/(df+.5))
    is a DIFFERENCE of two _ln_det integer logs (multiply num/den by 2:
    ln((2N-2df+1)/(2df+1)) = _ln_det(2N-2df+1) - _ln_det(2df+1)) — no
    libm, engine-identical bits.  Constants ride as shared repr
    literals; dl/avgdl becomes (dl * n_docs) / total_words, one integer
    product and one IEEE divide."""
    idf = (f"({_ln_det('(2 * n_docs - 2 * df + 1)', lit)}"
           f" - {_ln_det('(2 * df + 1)', lit)})")
    dl_norm = (f"({lit(0.25)} + {lit(0.75)}"
               f" * (CAST(dl * n_docs AS DOUBLE)"
               f" / CAST(total_words AS DOUBLE)))")
    score = (f"({idf} * (CAST(tf AS DOUBLE) * {lit(2.2)})"
             f" / (CAST(tf AS DOUBLE) + {lit(1.2)} * {dl_norm}))")
    return f"CAST(FLOOR({score} * 1000000.0) AS BIGINT)"


def q_text_bm25(spark, sf_dir):
    """Top-3 BM25 terms per document — the retrieval-grade relevance
    scorer next to q_text_tfidf (adds document-length normalization and
    the saturating tf, the Okapi form search engines actually rank by).

    The (doc, word) postings with their tf, df, dl and BM25 score are
    the retrieval index's BM25 relation (built once per corpus version,
    see retrieval_index); this query only ranks them per document.
    Scoring is the shared fixed-order expression of _bm25_e6_expr;
    ties break (score desc, word) for a total order.
    """
    from .retrieval_index import index_for

    w = Window.partitionBy("doc_id").orderBy(F.desc("bm25_e6"), F.asc("word"))
    return (index_for(spark, sf_dir).text.tf
            .withColumn("rk", F.row_number().over(w))
            .filter(F.col("rk") <= BM25_TOP)
            .select("doc_id", "word", "tf", "df", "dl", "bm25_e6", "rk"))


BM25R_QUERIES = 5    # retrieval queries derived from the corpus
BM25R_QLEN = 3       # terms per query
BM25R_TOPK = 10      # ranked documents returned per query


def q_text_bm25_retrieval(spark, sf_dir):
    """BM25 RANKED RETRIEVAL (r07 verdict item 5): score every document
    against a query-term set and return the top-{k} documents per
    query — the classic Okapi search operator on top of the same
    tf/df/dl statistics the inverted index and q_text_bm25 maintain.
    The query workload is derived deterministically from the corpus
    (the top {nq}x{ql} document-frequency terms, {ql} per query, in
    (df desc, word) order), so the operator is self-contained and
    scale-invariant; swapping in user queries is a one-relation change.

    Scale: the per-posting BM25 scores are the retrieval index's
    (built once per corpus version); a request collects its
    {nq}x{ql} query terms (a TakeOrdered over the vocabulary), then the
    index's bm25 search BROADCASTs them onto the postings (posting-list
    sized, never corpus-quadratic) and ranks with a TWO-PHASE SALTED
    top-k (local top-{k} per (query, hash-salt) bucket, then a
    SALTx{k}-row final fold per query) — no global window and no single
    task ever holds more than one bucket's rows, so a query matching
    every document (these high-df queries do) still ranks in bounded
    memory.  Ties break (score desc, doc_id).

    Output: (query_id, query_terms, doc_id, score_e6, rk).
    """.format(k=BM25R_TOPK, nq=BM25R_QUERIES, ql=BM25R_QLEN)
    import pandas as pd

    from .retrieval_index import index_for

    ix = index_for(spark, sf_dir)
    head = [r.word for r in ix.text.df.orderBy(F.desc("df"), "word")
            .limit(BM25R_QUERIES * BM25R_QLEN).select("word").collect()]
    # pandas in, so Spark plans a small local relation (no Python RDD)
    terms = spark.createDataFrame(
        pd.DataFrame({"q_doc": [i // BM25R_QLEN for i in range(len(head))],
                      "word": head}), "q_doc int, word string")
    # query_id -> its terms as a literal array lookup (the trailing
    # NULL types the array when the corpus has no words)
    names = F.array(*[F.lit(" ".join(head[i:i + BM25R_QLEN]))
                      for i in range(0, len(head), BM25R_QLEN)],
                    F.lit(None).cast("string"))
    return (ix.bm25(terms, BM25R_TOPK)
              .select(F.col("q_doc").alias("query_id"),
                      names[F.col("q_doc")].alias("query_terms"),
                      "doc_id", "score_e6", "rk"))


TR_V = 500       # TextRank vocabulary cap (top corpus words)
TR_TOP = 20      # keywords returned
TR_ITER = 5      # synchronous weighted-PageRank iterations
TR_D = 0.85      # damping


def q_text_textrank_keywords(spark, sf_dir):
    """TextRank corpus KEYWORDS (Mihalcea & Tarau, EMNLP'04): weighted
    PageRank over the word co-occurrence graph (words within distance
    <= 2 in a document are linked; edge weight = corpus co-occurrence
    count), vocabulary capped to the top {v} corpus words, {it}
    synchronous iterations at damping {d} — the graph family's
    ranking recipe (q_pagerank_copurchase) composed onto the text
    family's token stream.

    Determinism across engines: each weighted contribution
    rank * w / wsum is quantized to floor(c * 1e15) and the longs are
    summed (order-independent partial+final agg, the pagerank
    recipe); both engines dequantize once per iteration, so after {it}
    rounds the doubles agree bit-for-bit.

    Scale: pair generation is ROW-LOCAL (zip_with over offset slices
    — no self-join, no shuffle until the pair count agg); the
    iteration shuffles only (node, contribution-long) pairs over a
    <= {v}-node graph, so each round is metadata-sized regardless of
    corpus size.  Top-{k} is a TakeOrdered over the final vocab-sized
    rank relation.

    Output: (rk, word, rank_e9) — the top-{k} keywords.
    """.format(v=TR_V, it=TR_ITER, d=TR_D, k=TR_TOP)
    d = _docs(spark, sf_dir)
    w = words()
    n = F.size(w)

    def offs(k):
        # length clamped at 0: a doc shorter than k+1 tokens yields an
        # empty pair array (Spark's slice rejects negative lengths;
        # the oracle's generate_series(1, len-k) is empty the same way)
        ln = F.greatest(n - k, F.lit(0))
        return F.zip_with(
            F.slice(w, 1, ln), F.slice(w, k + 1, ln),
            lambda a, b: F.struct(F.least(a, b).alias("wa"),
                                  F.greatest(a, b).alias("wb")))

    pairs = (d.select(F.explode(F.concat(offs(1), offs(2))).alias("p"))
              .select("p.wa", "p.wb")
              .filter(F.col("wa") != F.col("wb")))
    vocab = (_index(spark, sf_dir).bag.df
             .orderBy(F.desc("cf"), "word").limit(TR_V).select("word"))
    wedges = (pairs.join(F.broadcast(vocab.select(
                  F.col("word").alias("wa"))), "wa")
                   .join(F.broadcast(vocab.select(
                  F.col("word").alias("wb"))), "wb")
                   .groupBy("wa", "wb")
                   .agg(F.count(F.lit(1)).alias("wgt")))
    adj = (wedges.select(F.col("wa").alias("src"),
                         F.col("wb").alias("dst"), "wgt")
           .union(wedges.select(F.col("wb").alias("src"),
                                F.col("wa").alias("dst"), "wgt")))
    wsum = adj.groupBy("src").agg(F.sum("wgt").alias("wsum"))
    # Eager checkpoint (counted immediately below); n_nodes and the
    # rank seed then derive from the MATERIALIZED adj_deg instead of
    # re-running the pair-explode -> vocab-join -> agg pipeline a
    # second time through wsum (same rows: adj_deg's src set IS wsum's
    # key set — the join keeps every adj row).
    adj_deg = adj.join(wsum, "src").localCheckpoint()
    srcs = adj_deg.select("src").distinct()
    n_nodes = srcs.count()
    pr = srcs.select(F.col("src").alias("node"),
                     (F.lit(1.0) / F.lit(n_nodes)).alias("rank"))
    for _ in range(TR_ITER):
        contribs = (adj_deg.join(pr, adj_deg.src == pr.node)
                    .select("dst",
                            F.floor((F.col("rank") * F.col("wgt")
                                     / F.col("wsum")) * F.lit(1e15))
                             .alias("c_fp"))
                    .groupBy("dst")
                    .agg(F.sum("c_fp").alias("inflow_fp")))
        pr = contribs.select(
            F.col("dst").alias("node"),
            (F.lit(1.0 - TR_D) / F.lit(n_nodes)
             + F.lit(TR_D) * (F.col("inflow_fp").cast("double")
                              / F.lit(1e15))).alias("rank")
        ).localCheckpoint(eager=False)   # lazy: rounds pipeline
    ranked = pr.select(F.col("node").alias("word"),
                       F.floor(F.col("rank") * 1e9)
                        .cast("long").alias("rank_e9"))
    top = ranked.orderBy(F.desc("rank_e9"), "word").limit(TR_TOP)
    rk = F.row_number().over(
        Window.orderBy(F.desc("rank_e9"), F.asc("word")))
    return top.withColumn("rk", rk).select("rk", "word", "rank_e9")


def _textrank_oracle() -> str:
    """Unrolled-CTE DuckDB twin of q_text_textrank_keywords — the
    pagerank oracle's quantize-sum-dequantize per iteration, over the
    co-occurrence graph built with the same two offset branches."""
    dd, omd = repr(float(TR_D)), repr(1.0 - TR_D)
    ctes = [f"""
        d AS (SELECT string_split(text, ' ') AS w FROM documents),
        pairs AS (
            SELECT least(w[i], w[i+1]) AS wa,
                   greatest(w[i], w[i+1]) AS wb
            FROM d, unnest(generate_series(1, len(w) - 1)) AS t1(i)
            UNION ALL
            SELECT least(w[i], w[i+2]), greatest(w[i], w[i+2])
            FROM d, unnest(generate_series(1, len(w) - 2)) AS t2(i)),
        vocab AS (
            SELECT word FROM (
                SELECT unnest(string_split(text, ' ')) AS word
                FROM documents)
            GROUP BY word
            ORDER BY COUNT(*) DESC, word LIMIT {TR_V}),
        wedges AS MATERIALIZED (
            SELECT wa, wb, COUNT(*)::BIGINT AS wgt
            FROM pairs
            WHERE wa <> wb
              AND wa IN (SELECT word FROM vocab)
              AND wb IN (SELECT word FROM vocab)
            GROUP BY 1, 2),
        adj AS (SELECT wa AS src, wb AS dst, wgt FROM wedges
                UNION ALL SELECT wb, wa, wgt FROM wedges),
        ws AS (SELECT src, SUM(wgt)::BIGINT AS wsum
               FROM adj GROUP BY 1),
        nn AS (SELECT COUNT(*) AS n FROM ws),
        adjdeg AS MATERIALIZED (
            SELECT adj.src, adj.dst, adj.wgt, ws.wsum
            FROM adj JOIN ws USING (src)),
        pr0 AS (SELECT src AS node,
                       CAST(1.0 AS DOUBLE) / (SELECT n FROM nn) AS rank
                FROM ws)"""]
    for i in range(1, TR_ITER + 1):
        ctes.append(f"""
        pr{i} AS MATERIALIZED (
            SELECT a.dst AS node,
                   CAST('{omd}' AS DOUBLE) / (SELECT n FROM nn)
                   + CAST('{dd}' AS DOUBLE)
                     * (CAST(SUM(CAST(floor(p.rank * a.wgt / a.wsum
                                            * 1e15)
                                      AS BIGINT)) AS DOUBLE) / 1e15)
                       AS rank
            FROM adjdeg a JOIN pr{i - 1} p ON p.node = a.src
            GROUP BY a.dst)""")
    return ("WITH" + ",".join(ctes) + f"""
        SELECT ROW_NUMBER() OVER (ORDER BY rank_e9 DESC, word) AS rk,
               word, rank_e9
        FROM (SELECT node AS word,
                     CAST(floor(rank * 1e9) AS BIGINT) AS rank_e9
              FROM pr{TR_ITER})
        ORDER BY rank_e9 DESC, word LIMIT {TR_TOP}""")


VOCAB_K = 1000


def q_text_oov_rate(spark, sf_dir):
    """Tokenizer-vocabulary coverage: build the corpus top-{k} token
    vocabulary and report each document's out-of-vocabulary token rate
    — the pre-tokenization health check (a high OOV corpus slice is
    usually non-target-language or binary junk, and predicts token
    inflation after BPE).

    The vocabulary ranking is sort+limit over the bag's word counts —
    Spark compiles it to TakeOrderedAndProject (per-partition
    top-k, then a k-row merge on the driver — never a global sort), and
    the (cnt DESC, word ASC) total order makes the boundary
    deterministic under count ties.  The k-row vocabulary broadcasts
    back onto the bag's (doc, word) counts; per-doc aggregation
    partitions on doc_id.
    """.format(k=VOCAB_K)
    bag = _index(spark, sf_dir).bag
    vocab = (bag.df.orderBy(F.desc("cf"), F.asc("word")).limit(VOCAB_K)
                  .select("word", F.lit(1).alias("in_vocab")))
    return (bag.tf.join(F.broadcast(vocab), "word", "left")
                 .groupBy("doc_id")
                 .agg(F.sum("tf").alias("n_tokens"),
                      F.sum(F.when(F.col("in_vocab").isNull(), F.col("tf"))
                             .otherwise(0)).alias("n_oov"))
                 .select("doc_id", "n_tokens", "n_oov",
                         F.round(F.col("n_oov") / F.col("n_tokens"), 6)
                          .alias("oov_rate")))


def q_quality_ppl_buckets(spark, sf_dir):
    """CCNet-style perplexity bucketing: within each language, rank
    documents by unigram-LM mean log-probability and split them into
    head/middle/tail terciles (bucket 1 = most predictable = lowest
    perplexity) — the curation step that keeps head+middle and drops
    the tail.

    Reuses q_text_lm_score's integer micro-nat totals (engine-
    deterministic by _ln_det construction), so the rank key
    sum_logp_u/n_tokens is one correctly-rounded double both engines
    agree on bit-for-bit.  The per-language rank is the two-level
    score-range-bucketed prefix COUNT (bucket = floor(score/1e5),
    ordered DESC) — no language's documents ever sort in a single
    task — and the tercile comes from NTILE's arithmetic definition
    applied to that rank (first n%3 buckets take one extra row), which
    the oracle cross-checks with a literal NTILE(3) window.
    """
    lm = q_text_lm_score(spark, sf_dir) \
        .select("doc_id", "n_tokens", "sum_logp_u")
    d = _docs(spark, sf_dir).select("doc_id", "lang")
    scored = (lm.join(d, "doc_id")
                .withColumn("score", F.col("sum_logp_u").cast("double")
                            / F.col("n_tokens"))
                .withColumn("bkt", F.floor(F.col("score") / 1e5)))
    bcnt = scored.groupBy("lang", "bkt").agg(F.count(F.lit(1)).alias("c"))
    w_off = (W.partitionBy("lang").orderBy(F.desc("bkt"))
              .rowsBetween(W.unboundedPreceding, -1))
    offs = bcnt.select("lang", "bkt",
                       F.coalesce(F.sum("c").over(w_off), F.lit(0))
                        .alias("off"))
    n_lang = bcnt.groupBy("lang").agg(F.sum("c").alias("n"))
    w_in = (W.partitionBy("lang", "bkt")
             .orderBy(F.desc("score"), F.asc("doc_id")))
    r = (scored.join(F.broadcast(offs), ["lang", "bkt"])
               .withColumn("rank", F.col("off") + F.row_number().over(w_in))
               .join(F.broadcast(n_lang), "lang"))
    q = F.floor(F.col("n") / 3)
    m = F.col("n") % 3
    head = m * (q + 1)
    tile = (F.when(F.col("rank") <= head,
                   F.floor((F.col("rank") - 1) / (q + 1)) + 1)
             .otherwise(m + F.floor((F.col("rank") - head - 1)
                                    / F.greatest(q, F.lit(1))) + 1))
    return r.select("doc_id", "lang", "n_tokens", "sum_logp_u",
                    tile.cast("long").alias("ppl_bucket"))


def q_text_ngram_novelty(spark, sf_dir):
    """Per-document 3-gram novelty: the fraction of a document's
    distinct word 3-grams it introduces to the corpus (min doc_id over
    the gram owns it) — the redundancy-growth curve of an accreting
    corpus (novelty collapsing toward 0 over ingest order means you're
    re-crawling what you already have).

    Grams leave the row as md5 DIGESTS (the dedup_spans rule — the
    shuffle carries 16-byte keys, never gram strings); first-owner is
    one partial+final min-agg on the digest, and the per-doc rate
    re-aggregates on doc_id.  Two shuffles total, both on uniform
    hashes.
    """
    d = _docs(spark, sf_dir)
    grams = (d.select("doc_id",
                      F.explode(F.array_distinct(
                          _token_ngrams(words(), 3)))
                       .alias("g"))
              .select("doc_id", F.md5("g").alias("h"))
              .cache())   # feeds the first-owner agg AND the join back
    firsts = grams.groupBy("h").agg(F.min("doc_id").alias("first_doc"))
    return (grams.join(firsts, "h")
                 .groupBy("doc_id")
                 .agg(F.count(F.lit(1)).alias("n_grams"),
                      F.sum(F.when(F.col("first_doc") == F.col("doc_id"), 1)
                             .otherwise(0)).alias("n_novel"))
                 .select("doc_id", "n_grams", "n_novel",
                         F.round(F.col("n_novel") / F.col("n_grams"), 6)
                          .alias("novelty_rate")))


def q_doc_length_histogram(spark, sf_dir):
    """Power-of-two token-length histogram per source: the canonical
    corpus composition chart (how much of each source is tweets vs
    articles vs books) and the input to packing-efficiency planning
    (seq_packing's bin choice).

    Bucket = floor(log2(n_tokens)) computed as bit length of an
    integer — length(bin(n)) - 1, exact in both engines (no libm log2
    on a power-of-two boundary); one partial+final agg to
    |sources| x |buckets| rows.
    """
    d = _docs(spark, sf_dir)
    n = F.size(words())
    return (d.select("source", n.alias("n_tokens"))
             .selectExpr("source", "n_tokens",
                         "length(bin(n_tokens)) - 1 AS log2_bucket")
             .groupBy("source", "log2_bucket")
             .agg(F.count(F.lit(1)).alias("n_docs"),
                  F.sum("n_tokens").alias("sum_tokens")))


ZIPF_TOP = 100      # head terms fitted
HEAPS_SHARDS = 20   # growth-curve checkpoints


def q_text_zipf_slope(spark, sf_dir):
    """Zipf fit of the corpus frequency head: OLS slope of ln(freq) on
    ln(rank) over the top-100 terms — the one-number corpus-health
    statistic (natural language sits near -1; template/boilerplate
    corpora flatten, spam steepens).  The pretraining-data cousin of
    quality_perplexity_buckets: it audits the DISTRIBUTION, not the
    documents.

    Scale + determinism: term counts are the bag's; the head is
    pre-pruned with an orderBy().limit() — a TakeOrderedAndProject, a
    per-partition top-100 merged on the driver side of the exchange,
    never a full sort — so the row_number window (which has no
    partitionBy) ranks a 100-row relation, not the whole vocabulary
    (r06 advice fix).  Both
    ln's go through _ln_det on INTEGER rank/count and quantize to e6
    ints ONCE per row, so all OLS moments are exact integer sums in
    DECIMAL(38,0) — order-independent — and the slope/intercept are
    single fixed-order double expressions over those exact moments,
    floored at 1e-6 (the regr_multiple_ols recipe applied to a
    log-log fit).
    """
    counts = (_index(spark, sf_dir).bag.df
              .select(F.col("word").alias("w"), F.col("cf").alias("cnt")))
    top = counts.orderBy(F.desc("cnt"), "w").limit(ZIPF_TOP)
    rk = F.row_number().over(W.orderBy(F.desc("cnt"), "w"))
    head = top.withColumn("rank", rk)
    x = f"CAST(floor({_ln_det('rank', _lit_spark)} * 1e6) AS BIGINT)"
    y = f"CAST(floor({_ln_det('cnt', _lit_spark)} * 1e6) AS BIGINT)"
    pts = head.selectExpr("rank", f"{x} AS x6", f"{y} AS y6")
    mo = pts.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("x6").cast("decimal(38,0)")).alias("sx"),
        F.sum(F.col("y6").cast("decimal(38,0)")).alias("sy"),
        F.sum((F.col("x6") * F.col("y6")).cast("decimal(38,0)"))
         .alias("sxy"),
        F.sum((F.col("x6") * F.col("x6")).cast("decimal(38,0)"))
         .alias("sxx"))
    num = "CAST(n * sxy - sx * sy AS DOUBLE)"
    den = "CAST(n * sxx - sx * sx AS DOUBLE)"
    return mo.selectExpr(
        "CAST(n AS INT) AS n_terms",
        f"CAST(floor(({num}) / ({den}) * 1e6) AS BIGINT) AS slope_e6",
        f"CAST(floor((CAST(sy AS DOUBLE) - ({num}) / ({den})"
        f" * CAST(sx AS DOUBLE)) / CAST(n AS DOUBLE)) AS BIGINT)"
        " AS intercept_e6")


def q_corpus_heaps_curve(spark, sf_dir):
    """Heaps'-law vocabulary growth curve: the corpus is split into 20
    fixed shards (doc_id mod 20, a deterministic ingest order) and the
    curve reports cumulative token count vs cumulative DISTINCT-term
    count as shards accumulate — the chart that predicts tokenizer
    vocabulary pressure and dedup headroom as a 100 TB crawl grows
    (sublinear vocab growth = healthy; linear = id-soup/noise).

    The cumulative distinct is NOT recomputed per prefix (that would
    be 20 distinct-aggs): each term contributes to every prefix at or
    after its FIRST shard, so one min-agg per term + a 20-row window
    gives every checkpoint exactly — the same compaction trick as
    window_cumulative_distinct_users.  All integers, full oracle.
    """
    d = _docs(spark, sf_dir)
    toks = d.select((F.col("doc_id") % HEAPS_SHARDS).alias("shard"),
                    F.explode(words()).alias("w"))
    per_shard = toks.groupBy("shard").agg(
        F.count(F.lit(1)).alias("n_tokens"))
    firsts = (toks.groupBy("w").agg(F.min("shard").alias("fs"))
                  .groupBy(F.col("fs").alias("shard"))
                  .agg(F.count(F.lit(1)).alias("n_new_terms")))
    w = (W.orderBy("shard")
          .rowsBetween(W.unboundedPreceding, W.currentRow))
    return (per_shard.join(firsts, "shard", "left")
            .select("shard", "n_tokens",
                    F.coalesce("n_new_terms", F.lit(0))
                     .alias("n_new_terms"))
            .withColumn("tokens_cum", F.sum("n_tokens").over(w))
            .withColumn("vocab_cum", F.sum("n_new_terms").over(w))
            .select("shard", "n_tokens", "n_new_terms",
                    "tokens_cum", "vocab_cum"))


def q_eval_auc_stopword(spark, sf_dir):
    """Rank AUC (= Mann-Whitney statistic) of the English-stopword
    feature as a detector of lang == 'en' — the threshold-free quality
    metric every classifier in the curation stack should report (the
    eval twin of text_langid: langid uses the feature to DECIDE, this
    measures how separable the feature actually is).

    Fully integer end to end: the score has 11 distinct values (0-10
    distinct stopword hits), so ranking compacts to an 11-row
    relation; doubled-unit midranks (the Mann-Whitney recipe) make tie
    handling exact, and AUC = (R+ - n+(n+ + 1)/2) / (n+ n-) is emitted
    as a DECIMAL-div floor at 1e-6 (== DuckDB //) — no float exists
    anywhere in the operator.
    """
    d = _docs(spark, sf_dir)
    hits = F.size(F.array_intersect(
        F.array_distinct(words()),
        F.array(*[F.lit(w) for w in STOPWORDS["en"]])))
    per = (d.select(hits.alias("s"),
                    (F.col("lang") == "en").cast("long").alias("y"))
            .groupBy("s").agg(F.count(F.lit(1)).alias("n"),
                              F.sum("y").alias("n_pos")))
    w = W.orderBy("s").rowsBetween(W.unboundedPreceding, -1)
    mid2 = (F.coalesce(F.sum("n").over(w), F.lit(0)) * 2
            + F.col("n") + 1)            # doubled-unit midrank
    tot = (per.select((F.col("n_pos").cast("decimal(38,0)")
                       * mid2.cast("decimal(38,0)")).alias("rp2"),
                      "n", "n_pos")
              .agg(F.sum("rp2").alias("rpos2"),
                   F.sum("n_pos").cast("decimal(38,0)").alias("np"),
                   (F.sum("n") - F.sum("n_pos")).cast("decimal(38,0)")
                   .alias("nn")))
    return tot.selectExpr(
        "CAST(np AS BIGINT) AS n_pos",
        "CAST(nn AS BIGINT) AS n_neg",
        # single-class corpus (np or nn = 0): AUC undefined -> NULL on
        # BOTH sides (DuckDB's // would raise; Spark's div would NULL
        # silently — the explicit CASE makes the engines agree, r06
        # advice fix)
        "CASE WHEN np = 0 OR nn = 0 THEN CAST(NULL AS BIGINT)"
        " ELSE CAST((rpos2 - np * (np + 1)) * 1000000"
        " div (2 * np * nn) AS BIGINT) END AS auc_ppm")


def q_eval_calibration_bins(spark, sf_dir):
    """Calibration table of the stopword detector: per distinct
    feature value (0-10 English-stopword hits), the document count and
    the empirical P(lang = 'en') — the reliability diagram that says
    WHERE a score is trustworthy, which AUC alone cannot (a perfectly
    ranked but mis-scaled score calibrates badly).  One partial+final
    agg to <= 11 rows; rate floored at 1e-6.
    """
    d = _docs(spark, sf_dir)
    hits = F.size(F.array_intersect(
        F.array_distinct(words()),
        F.array(*[F.lit(w) for w in STOPWORDS["en"]])))
    return (d.select(hits.alias("score_bin"),
                     (F.col("lang") == "en").cast("long").alias("y"))
             .groupBy("score_bin")
             .agg(F.count(F.lit(1)).alias("n_docs"),
                  F.sum("y").alias("n_en"))
             .select("score_bin", "n_docs", "n_en",
                     F.floor(F.col("n_en") * 1e6 / F.col("n_docs"))
                      .cast("long").alias("rate_ppm")))


CDC_MOD = 16      # expected chunk length (words); boundary ~ 1/16
CDC_TOP = 100     # duplicated chunks reported


def q_chunk_content_defined(spark, sf_dir):
    """Content-defined chunking (Rabin/CDC-style) + chunk-level dedup
    report: chunk boundaries are placed where a WORD's hash hits
    0 mod {m} — so chunk edges move WITH the content, and an insertion
    near the top of a document disturbs only its own chunk instead of
    re-offsetting every fixed-size window (the property rsync/LBFS/
    storage dedup rely on, and what doc_chunking_rag's fixed windows
    cannot give).  Output: the top duplicated chunks across the corpus
    (digest, occurrences, distinct docs) — the sub-document dedup
    signal that document-level fingerprints miss.

    Scale + determinism: the boundary test is the portable md5_32
    hash; words shuffle ONCE (doc-keyed) into chunk assembly, chunks
    leave as md5 digests immediately, and only digests shuffle for the
    dedup count; the top-{k} bound is TakeOrdered.  Chunk strings are
    assembled by array_sort(struct(pos, word)) — no collect_list order
    assumption.
    """.format(m=CDC_MOD, k=CDC_TOP)
    d = _docs(spark, sf_dir)
    w = d.select("doc_id",
                 F.posexplode(words()).alias("pos", "w"))
    is_b = (F.conv(F.substring(F.md5(F.col("w")), 1, 8), 16, 10)
            .cast("long") % CDC_MOD == 0).cast("int")
    win = (W.partitionBy("doc_id").orderBy("pos")
            .rowsBetween(W.unboundedPreceding, -1))
    cid = F.coalesce(F.sum(is_b).over(win), F.lit(0))
    ch = (w.withColumn("cid", cid)
           .groupBy("doc_id", "cid")
           .agg(F.md5(F.concat_ws(" ", F.transform(
               F.array_sort(F.collect_list(F.struct("pos", "w"))),
               lambda p: p["w"]))).alias("chunk_md5"),
                F.count(F.lit(1)).alias("n_words")))
    agg = (ch.groupBy("chunk_md5")
             .agg(F.count(F.lit(1)).alias("n_occurrences"),
                  F.countDistinct("doc_id").alias("n_docs"),
                  F.min("n_words").alias("n_words")))
    top = (agg.filter(F.col("n_occurrences") > 1)
              .orderBy(F.desc("n_occurrences"), "chunk_md5")
              .limit(CDC_TOP))
    rk = F.row_number().over(
        W.orderBy(F.desc("n_occurrences"), "chunk_md5"))
    return top.withColumn("rk", rk).select(
        "rk", "chunk_md5", "n_occurrences", "n_docs", "n_words")


# invisible/confusable codepoints screened by the watermark scan:
# zero-width space/joiner/non-joiner, BOM, soft hyphen, word joiner
WM_CODEPOINTS = (0x200B, 0x200C, 0x200D, 0xFEFF, 0x00AD, 0x2060)
WM_INJECT_MOD = 37     # doc_id % 37 == 0 gets one marker injected


def q_text_watermark_scan(spark, sf_dir):
    """Invisible-character WATERMARK screen: count zero-width and
    soft-hyphen-class codepoints per document and flag carriers — the
    poisoning/steganography screen a training-data pipeline runs
    before ingesting third-party corpora (invisible codepoints carry
    provenance watermarks and prompt-injection payloads, and silently
    inflate tokenizer byte counts).

    The clean synthetic corpus carries none, so the operator screens a
    DERIVED tainted snapshot (doc_id % {m} == 0 gets one ZWSP appended
    after its first word — the table_diff derived-fixture recipe, so
    the detector has real positives and the oracle rebuilds the same
    taint).  Pure projection: inject + regexp-count + flag is
    row-local, zero shuffles, linear in corpus bytes; the output
    summary is one partial+final agg per (lang, flagged) cell.
    """.format(m=WM_INJECT_MOD)
    d = _docs(spark, sf_dir)
    zwsp = "\u200b"
    tainted = F.when(F.col("doc_id") % WM_INJECT_MOD == 0,
                     F.concat(F.col("text"), F.lit(zwsp))) \
               .otherwise(F.col("text"))
    klass = "[" + "".join(chr(c) for c in WM_CODEPOINTS) + "]"
    n_wm = F.size(F.regexp_extract_all(tainted, F.lit(klass), 0))
    per_doc = d.select("doc_id", "lang", n_wm.alias("n_wm"))
    return (per_doc
            .groupBy("lang", (F.col("n_wm") > 0).alias("flagged"))
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.sum("n_wm").alias("n_wm_chars"),
                 F.min("doc_id").alias("first_doc")))


LLR_TOP = 20


def _llr_term(k: str, num: str, den: str, lit) -> str:
    """One G² cell: k * (ln(num) - ln(den)), micro-nat-quantized per
    cell (the pagerank fixed-point recipe), 0 when the cell is empty."""
    return (f"CASE WHEN {k} = 0 THEN CAST(0 AS BIGINT) ELSE "
            f"CAST(round({k} * ({_ln_det(num, lit)}"
            f" - {_ln_det(den, lit)}) * 1e6, 0) AS BIGINT) END")


def q_text_collocations_llr(spark, sf_dir):
    """Dunning log-likelihood-ratio collocations (G², Dunning 1993) —
    the statistically principled sibling of PMI for finding
    multi-word expressions: PMI over-rewards rare pairs (two hapaxes
    that co-occur once get maximal PMI); G² weights the evidence by
    the full 2x2 contingency, which is why tokenizer vocab builders
    and phrase miners rank by LLR.

    Each of the four cells is k_ij * (ln(k_ij·N) - ln(R_i·C_j)) — an
    integer rational through _ln_det, quantized to micro-nats PER
    CELL then summed (engine-deterministic; products bounded by N²,
    the bigram family's 2^63 contract).  Counts come from ONE
    adjacent-bigram shuffle plus two vocabulary-sized margins; the
    top-{k} lands via TakeOrderedAndProject, never a global window.
    """.format(k=LLR_TOP)
    # (r12: spread()ing the doc scan was A/B'd here and regressed
    # 2.04 -> 2.35s — the added exchange outweighs parallelizing the
    # one ~0.4s serial explode at this SF; left as the scan's splits.)
    d = _docs(spark, sf_dir)
    w = words()
    n = F.size(w)
    bg = d.select(F.explode(F.zip_with(
        F.slice(w, 1, n - 1), F.slice(w, 2, n - 1),
        lambda a, b: F.struct(a.alias("a"), b.alias("b")))).alias("p")) \
          .select("p.a", "p.b")
    # bi feeds both margins, the total AND the scoring join — four plan
    # references, each re-running the bigram explode+agg without a cache
    bi = bg.groupBy("a", "b").agg(F.count(F.lit(1)).alias("k11")).cache()
    ra = bi.groupBy("a").agg(F.sum("k11").alias("ca"))
    cb = bi.groupBy("b").agg(F.sum("k11").alias("cb"))
    tot = bi.agg(F.sum("k11").alias("N"))
    m = (bi.join(ra, "a").join(cb, "b").crossJoin(F.broadcast(tot))
         .withColumn("k12", F.col("ca") - F.col("k11"))
         .withColumn("k21", F.col("cb") - F.col("k11"))
         .withColumn("k22", F.col("N") - F.col("ca") - F.col("cb")
                     + F.col("k11")))
    t = _llr_term
    llr = (f"2 * ({t('k11', '(k11 * N)', '(ca * cb)', _lit_spark)}"
           f" + {t('k12', '(k12 * N)', '(ca * (N - cb))', _lit_spark)}"
           f" + {t('k21', '(k21 * N)', '((N - ca) * cb)', _lit_spark)}"
           f" + {t('k22', '(k22 * N)', '((N - ca) * (N - cb))', _lit_spark)})")
    scored = m.selectExpr("a", "b", "k11", f"{llr} AS llr_e6")
    return (scored.orderBy(F.desc("llr_e6"), "a", "b").limit(LLR_TOP)
            .select("a", "b", "k11", "llr_e6"))


def q_eval_langid_confusion(spark, sf_dir):
    """Language-ID CONFUSION MATRIX: the labeled-eval step after
    text_langid — per (true lang, predicted lang) cell, the count and
    the row-normalized recall in ppm (diagonal cells are per-language
    recall; off-diagonal cells say WHICH confusions happen, the signal
    that decides where to spend classifier work before filtering a
    100 TB multilingual crawl by language).

    Scale shape: the classifier is row-local (stopword-set
    intersections); the matrix is one partial+final agg on a
    |langs|^2-bounded key; row totals join back broadcast.  Integer
    ppm arithmetic; fully oracled by composing the text_langid oracle.
    """
    pred = q_text_langid(spark, sf_dir).select("lang", "pred_lang")
    c = (pred.groupBy("lang", "pred_lang")
         .agg(F.count(F.lit(1)).alias("n")))
    t = c.groupBy("lang").agg(F.sum("n").alias("tot"))
    return (c.join(F.broadcast(t), "lang")
            .select("lang", "pred_lang", "n",
                    F.expr("CAST((CAST(n AS DECIMAL(38,0)) * 1000000)"
                           " DIV tot AS BIGINT)")
                     .alias("row_ppm")))


def q_quality_adaptive_threshold(spark, sf_dir):
    """Per-SOURCE adaptive quality gate: instead of one global cutoff,
    each source keeps its own top 75% by uniqueness score — the
    domain-aware filtering rule (a fixed global threshold calibrated on
    web text silently eviscerates code/forum/low-resource domains;
    Gopher and CCNet both filter per-domain for exactly this reason).

    Score = floor(distinct_words * 1000 / words) — integer milli-units,
    engine-exact.  Cutoff per source = the 25th-percentile score over
    the COMPACTED (source, score, cnt) relation (compaction-before-rank
    doctrine: the cumulative window orders <= 1001 distinct score
    values per source, value-domain bounded, never the raw corpus), a
    doc is kept iff score >= its own source's cutoff, and the kept
    counts are summed from the same compacted relation — the fact
    table is scanned ONCE for the histogram and never re-shuffled.

    Output per source: cutoff, totals, kept fraction in ppm — the
    audit row a curation run logs before applying the gate.
    """
    d = _docs(spark, sf_dir)
    score = F.expr(
        f"CAST((size(array_distinct({words_sql()})) * 1000)"
        f" DIV size({words_sql()}) AS BIGINT)")
    hist = (d.select("source", score.alias("score"))
            .groupBy("source", "score")
            .agg(F.count(F.lit(1)).alias("cnt")))
    w_cum = (W.partitionBy("source").orderBy("score")
             .rowsBetween(W.unboundedPreceding, W.currentRow))
    cum = hist.withColumn("cum", F.sum("cnt").over(w_cum))
    tot = hist.groupBy("source").agg(F.sum("cnt").alias("n_total"))
    cut = (cum.join(tot, "source")
           .filter(F.col("cum") * 4 >= F.col("n_total"))
           .groupBy("source")
           .agg(F.min("score").alias("cutoff_e3"),
                F.min("n_total").alias("n_total")))
    kept = (hist.join(F.broadcast(cut), "source")
            .groupBy("source", "cutoff_e3", "n_total")
            .agg(F.sum(F.when(F.col("score") >= F.col("cutoff_e3"),
                              F.col("cnt")).otherwise(F.lit(0)))
                 .alias("n_kept")))
    return kept.select(
        "source", "cutoff_e3", "n_total", "n_kept",
        F.expr("CAST((CAST(n_kept AS DECIMAL(38,0)) * 1000000)"
               " DIV n_total AS BIGINT)")
         .alias("kept_ppm"))


QUERIES = {
    "text_collocations_llr": q_text_collocations_llr,
    "text_watermark_scan": q_text_watermark_scan,
    "text_kneser_ney_score": q_text_kneser_ney_score,
    "eval_langid_confusion": q_eval_langid_confusion,
    "quality_adaptive_threshold": q_quality_adaptive_threshold,
    "text_stats": q_text_stats,
    "text_oov_rate": q_text_oov_rate,
    "quality_perplexity_buckets": q_quality_ppl_buckets,
    "text_ngram_novelty": q_text_ngram_novelty,
    "doc_length_log2_histogram": q_doc_length_histogram,
    "text_quality": q_text_quality,
    "text_bm25_top_terms": q_text_bm25,
    "text_bm25_retrieval": q_text_bm25_retrieval,
    "text_textrank_keywords": q_text_textrank_keywords,
    "text_langid": q_text_langid,
    "text_fingerprint": q_text_fingerprint,
    "text_winnow_fingerprints": q_text_winnow,
    "text_bigram_freq": q_text_ngram_freq,
    "text_tfidf_top_terms": q_text_tfidf,
    "text_inverted_index": q_text_inverted_index,
    "text_scrub_pii": q_text_scrub,
    "text_heavy_hitters": q_heavy_hitters,
    "text_repetition_gopher": q_text_repetition,
    "text_contamination_3gram": q_text_contamination,
    "text_contamination_bloom": q_text_contamination_bloom,
    "text_unigram_lm_score": q_text_lm_score,
    "text_bigram_lm_score": q_text_bigram_lm_score,
    "seq_packing_gpt": q_seq_packing,
    "doc_chunking_rag": q_doc_chunking,
    "chunk_boilerplate": q_chunk_boilerplate,
    "text_remove_boilerplate": q_remove_boilerplate,
    "text_tfidf_doc_pairs": q_tfidf_doc_pairs,
    "text_pmi_cooccurrence": q_text_pmi_pairs,
    "corpus_line_dedup_keepfirst": q_corpus_line_dedup,
    "text_zipf_slope": q_text_zipf_slope,
    "corpus_heaps_curve": q_corpus_heaps_curve,
    "eval_auc_stopword": q_eval_auc_stopword,
    "eval_calibration_bins": q_eval_calibration_bins,
    "chunk_content_defined": q_chunk_content_defined,
}

_SW = {k: "[" + ", ".join(f"'{w}'" for w in v) + "]" for k, v in STOPWORDS.items()}
_HITS = {k: f"len(list_intersect(list_distinct(string_split(text, ' ')), {v}))"
         for k, v in _SW.items()}
_BEST = f"greatest({_HITS['en']}, {_HITS['de']}, {_HITS['fr']}, {_HITS['es']})"

ORACLE = {
    "quality_adaptive_threshold": """
        WITH s AS (
            SELECT source,
                   (len(list_distinct(string_split(text, ' '))) * 1000)
                     // len(string_split(text, ' ')) AS score
            FROM documents),
        hist AS (SELECT source, score, COUNT(*)::BIGINT AS cnt
                 FROM s GROUP BY 1, 2),
        cum AS (SELECT source, score, cnt,
                       SUM(cnt) OVER (PARTITION BY source
                                      ORDER BY score) AS cum
                FROM hist),
        tot AS (SELECT source, SUM(cnt)::BIGINT AS n_total
                FROM hist GROUP BY 1),
        cut AS (SELECT c.source, MIN(score)::BIGINT AS cutoff_e3,
                       MIN(n_total)::BIGINT AS n_total
                FROM cum c JOIN tot t ON c.source = t.source
                WHERE c.cum * 4 >= t.n_total GROUP BY 1),
        kept AS (SELECT h.source, k.cutoff_e3, k.n_total,
                        SUM(CASE WHEN h.score >= k.cutoff_e3
                                 THEN h.cnt ELSE 0 END)::BIGINT
                            AS n_kept
                 FROM hist h JOIN cut k ON h.source = k.source
                 GROUP BY 1, 2, 3)
        SELECT source, cutoff_e3, n_total, n_kept,
               ((n_kept::HUGEINT * 1000000) // n_total)::BIGINT
                   AS kept_ppm
        FROM kept
    """,
    "text_contamination_bloom": f"""
        WITH d AS (SELECT doc_id, string_split(text, ' ') AS w
                   FROM documents),
        grams AS (
            SELECT doc_id, unnest(list_transform(
                       generate_series(1, greatest(len(w) - 2, 0)),
                       i -> concat_ws(' ', w[i], w[i+1], w[i+2]))) AS g
            FROM d),
        ev_pos AS (
            SELECT ('0x' || substr(md5(g), 1 + 8 * i, 8))::BIGINT
                       % {CONTAM_BLOOM_BITS} AS pos
            FROM (SELECT g FROM grams WHERE doc_id % {EVAL_MOD} = 0),
                 unnest([0, 1, 2, 3]) AS t(i)),
        bloom AS (
            SELECT pos // 32 AS slot,
                   bit_or(1::BIGINT << CAST(pos % 32 AS INT)) AS word
            FROM ev_pos GROUP BY 1),
        tg AS (SELECT DISTINCT doc_id, g FROM grams
               WHERE doc_id % {EVAL_MOD} <> 0),
        probes AS (
            SELECT doc_id, g,
                   ('0x' || substr(md5(g), 1 + 8 * i, 8))::BIGINT
                       % {CONTAM_BLOOM_BITS} AS pos
            FROM tg, unnest([0, 1, 2, 3]) AS t(i)),
        hits AS (
            SELECT doc_id, g
            FROM probes JOIN bloom ON probes.pos // 32 = bloom.slot
            WHERE (1::BIGINT << CAST(probes.pos % 32 AS INT))
                  & bloom.word <> 0
            GROUP BY doc_id, g HAVING COUNT(*) = {CONTAM_BLOOM_K}),
        hsum AS (SELECT doc_id, COUNT(*) AS n_shared_bloom
                 FROM hits GROUP BY 1),
        train AS (
            SELECT doc_id, COUNT(*) AS n_grams, COUNT(DISTINCT g) AS n_distinct
            FROM grams WHERE doc_id % {EVAL_MOD} <> 0 GROUP BY 1)
        SELECT train.doc_id, n_grams, n_shared_bloom,
               ROUND(n_shared_bloom * 1.0 / n_distinct, 6)
                   AS contamination_bloom
        FROM train JOIN hsum USING (doc_id)
    """,
    "chunk_boilerplate": f"""
        WITH ch AS (
            SELECT doc_id, md5(substr(text, CAST(s + 1 AS INT),
                                      {CHUNK_LEN})) AS chunk_md5
            FROM documents,
                 unnest(generate_series(0,
                     greatest(length(text) - 1, 0),
                     {CHUNK_STRIDE})) AS t(s))
        SELECT chunk_md5,
               COUNT(DISTINCT doc_id) AS n_docs,
               COUNT(*) AS n_occurrences,
               MIN(doc_id) AS first_doc_id
        FROM ch GROUP BY chunk_md5
        HAVING COUNT(DISTINCT doc_id) >= 2
    """,
    "doc_chunking_rag": f"""
        SELECT doc_id,
               CAST(s // {CHUNK_STRIDE} AS INT) AS chunk_idx,
               CAST(s AS INT) AS chunk_start,
               length(sub) AS chunk_len,
               md5(sub) AS chunk_md5
        FROM (SELECT doc_id, s,
                     substr(text, CAST(s + 1 AS INT), {CHUNK_LEN}) AS sub
              FROM documents,
                   unnest(generate_series(0,
                       greatest(length(text) - 1, 0),
                       {CHUNK_STRIDE})) AS t(s))
    """,
    "seq_packing_gpt": f"""
        WITH t AS (SELECT doc_id, len(string_split(text, ' ')) AS n_tokens
                   FROM documents),
        c AS (SELECT doc_id, n_tokens,
                     CAST(SUM(n_tokens) OVER (ORDER BY doc_id
                          ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_end
              FROM t)
        SELECT doc_id, n_tokens,
               (cum_end - n_tokens) // {SEQ_LEN} AS first_seq,
               (cum_end - 1) // {SEQ_LEN} AS last_seq,
               CAST((cum_end - 1) // {SEQ_LEN}
                    - (cum_end - n_tokens) // {SEQ_LEN} + 1 AS INT) AS n_seqs
        FROM c
    """,
    "text_repetition_gopher": """
        WITH d AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        base AS (
            SELECT doc_id, len(w) AS n_tokens,
                   list_transform(generate_series(1, greatest(len(w) - 1, 0)),
                                  i -> w[i] || ' ' || w[i+1]) AS g2,
                   list_transform(generate_series(1, greatest(len(w) - 4, 0)),
                                  i -> concat_ws(' ', w[i], w[i+1], w[i+2],
                                                 w[i+3], w[i+4])) AS g5
            FROM d),
        c2 AS (
            SELECT doc_id, g, COUNT(*) AS cnt
            FROM (SELECT doc_id, unnest(g2) AS g FROM base) GROUP BY 1, 2),
        c5 AS (
            SELECT doc_id, g, COUNT(*) AS cnt
            FROM (SELECT doc_id, unnest(g5) AS g FROM base) GROUP BY 1, 2),
        m AS (SELECT doc_id, MAX(cnt) AS top2_cnt FROM c2 GROUP BY 1),
        s AS (SELECT doc_id, SUM(CASE WHEN cnt >= 2 THEN cnt ELSE 0 END)
                     AS dup5_inst FROM c5 GROUP BY 1)
        SELECT b.doc_id, b.n_tokens,
               ROUND(COALESCE(m.top2_cnt, 0) * 2.0 / b.n_tokens, 6) AS top2_frac,
               ROUND(COALESCE(s.dup5_inst, 0) * 5.0 / b.n_tokens, 6) AS dup5_frac,
               (ROUND(COALESCE(m.top2_cnt, 0) * 2.0 / b.n_tokens, 6) <= 0.20
                AND ROUND(COALESCE(s.dup5_inst, 0) * 5.0 / b.n_tokens, 6) <= 0.15)
                   AS keep
        FROM base b LEFT JOIN m ON b.doc_id = m.doc_id
                    LEFT JOIN s ON b.doc_id = s.doc_id
    """,
    "text_contamination_3gram": """
        WITH d AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        grams AS (
            SELECT doc_id, unnest(list_transform(
                       generate_series(1, greatest(len(w) - 2, 0)),
                       i -> concat_ws(' ', w[i], w[i+1], w[i+2]))) AS g
            FROM d),
        ev AS (SELECT DISTINCT g FROM grams WHERE doc_id % 97 = 0),
        train AS (
            SELECT doc_id, COUNT(*) AS n_grams, COUNT(DISTINCT g) AS n_distinct
            FROM grams WHERE doc_id % 97 <> 0 GROUP BY 1),
        hits AS (
            SELECT t.doc_id, COUNT(*) AS n_shared
            FROM (SELECT DISTINCT doc_id, g FROM grams WHERE doc_id % 97 <> 0) t
            JOIN ev ON t.g = ev.g
            GROUP BY 1)
        SELECT train.doc_id, n_grams, n_shared,
               ROUND(n_shared * 1.0 / n_distinct, 6) AS contamination
        FROM train JOIN hits ON train.doc_id = hits.doc_id
    """,
    "text_bigram_lm_score": f"""
        WITH d AS (SELECT doc_id, string_split(text, ' ') AS w
                   FROM documents),
        bg AS (SELECT doc_id, w[i] AS prev, w[i + 1] AS word
               FROM d, unnest(generate_series(1, greatest(len(w) - 1, 0)))
                       AS t(i)),
        words AS (SELECT unnest(string_split(text, ' ')) AS word
                  FROM documents),
        uni AS (SELECT word, COUNT(*) AS c FROM words GROUP BY word),
        tot AS (SELECT COUNT(*) AS N FROM words),
        bi AS (SELECT prev, word, COUNT(*) AS c_ab FROM bg GROUP BY 1, 2),
        model AS (
            SELECT bi.prev, bi.word,
                   CAST(ROUND(({_ln_det('(c_ab * N + c_a * c_b)', _lit_duck)}
                               - {_ln_det('(2 * c_a * N)', _lit_duck)})
                              * 1e6, 0) AS BIGINT) AS logp_bi
            FROM bi
            JOIN (SELECT word AS prev, c AS c_a FROM uni) ua USING (prev)
            JOIN (SELECT word, c AS c_b FROM uni) ub USING (word)
            CROSS JOIN tot)
        SELECT doc_id, COUNT(*) AS n_bigrams,
               SUM(logp_bi)::BIGINT AS sum_logp_bi,
               ROUND(SUM(logp_bi) / COUNT(*) / 1e6, 6) AS mean_logp
        FROM bg JOIN model USING (prev, word)
        GROUP BY doc_id
    """,
    "text_unigram_lm_score": f"""
        WITH w AS (SELECT doc_id, unnest(string_split(text, ' ')) AS word
                   FROM documents),
        t AS (SELECT COUNT(*) AS total FROM w),
        counts AS (SELECT word, COUNT(*) AS cnt FROM w GROUP BY word),
        model AS (
            SELECT word,
                   CAST(ROUND(({_ln_det('cnt', _lit_duck)}
                               - {_ln_det('total', _lit_duck)}) * 1e6, 0)
                        AS BIGINT) AS logp_u
            FROM counts CROSS JOIN t)
        SELECT doc_id, COUNT(*) AS n_tokens,
               SUM(logp_u)::BIGINT AS sum_logp_u,
               ROUND(SUM(logp_u) / COUNT(*) / 1e6, 6) AS mean_logp
        FROM w JOIN model USING (word)
        GROUP BY doc_id
    """,
    "text_heavy_hitters": """
        WITH w AS (SELECT unnest(string_split(text, ' ')) AS word
                   FROM documents),
        c AS (SELECT word, COUNT(*) AS cnt FROM w GROUP BY 1),
        t AS (SELECT COUNT(*) AS total FROM w)
        SELECT word, cnt, ROUND(cnt / total, 6) AS rel_freq
        FROM c, t WHERE cnt * 1000 > total
    """,
    "text_stats": r"""
        SELECT doc_id,
               LENGTH(text) AS n_chars_computed,
               len(string_split(text, ' ')) AS n_tokens_ws,
               len(list_distinct(string_split(text, ' '))) AS n_unique_tokens,
               len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\s]'))
                   AS n_tokens_re
        FROM documents
    """,
    "text_quality": f"""
        SELECT doc_id,
               len(string_split(text, ' ')) AS n_words,
               ROUND(len(list_distinct(string_split(text, ' ')))
                     / len(string_split(text, ' ')), 6) AS uniq_ratio,
               {_HITS['en']} AS n_stopword_types,
               ROUND((LENGTH(text) - (len(string_split(text, ' ')) - 1))
                     / len(string_split(text, ' ')), 6) AS mean_word_len,
               (len(string_split(text, ' ')) BETWEEN 20 AND 500
                AND len(list_distinct(string_split(text, ' ')))
                    / len(string_split(text, ' ')) > 0.2) AS passes_quality
        FROM documents
    """,
    "text_langid": f"""
        SELECT doc_id, lang,
               {_HITS['en']} AS hits_en,
               {_HITS['de']} AS hits_de,
               {_HITS['fr']} AS hits_fr,
               {_HITS['es']} AS hits_es,
               CASE WHEN {_BEST} = 0 THEN 'unknown'
                    WHEN {_HITS['en']} = {_BEST} THEN 'en'
                    WHEN {_HITS['de']} = {_BEST} THEN 'de'
                    WHEN {_HITS['fr']} = {_BEST} THEN 'fr'
                    ELSE 'es' END AS pred_lang
        FROM documents
    """,
    "text_fingerprint": r"""
        SELECT doc_id,
               md5(regexp_replace(lower(text), '\s+', ' ', 'g')) AS fingerprint,
               substring(md5(regexp_replace(lower(text), '\s+', ' ', 'g')), 1, 4)
                   AS fp_bucket
        FROM documents
    """,
    "text_winnow_fingerprints": r"""
        WITH d AS (SELECT doc_id,
                          regexp_replace(lower(text), '\s+', ' ', 'g') AS norm
                   FROM documents),
        g AS (SELECT doc_id,
                list_transform(generate_series(1, greatest(length(norm) - 8 + 1, 1)),
                    i -> substr(md5(substr(norm, i, 8)), 1, 16)) AS hs
              FROM d),
        w AS (SELECT doc_id, len(hs) AS n_grams,
                list_distinct(list_transform(
                    generate_series(1, greatest(len(hs) - 4 + 1, 1)),
                    j -> list_min(hs[j : j + 3]))) AS fps
              FROM g)
        SELECT doc_id, n_grams, len(fps) AS n_fps,
               list_min(fps) AS min_fp, list_max(fps) AS max_fp
        FROM w
    """,
    "text_scrub_pii": r"""
        WITH s AS (
            SELECT doc_id, text,
                   regexp_replace(
                       regexp_replace(text,
                           '[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}',
                           '<EMAIL>', 'g'),
                       '\b[0-9]{6,}\b', '<NUM>', 'g') AS scrubbed
            FROM documents)
        SELECT doc_id,
               len(regexp_extract_all(text,
                   '[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}')) AS n_emails,
               len(regexp_extract_all(text, '\b[0-9]{6,}\b')) AS n_longnums,
               LENGTH(scrubbed) AS n_chars_scrubbed,
               md5(scrubbed) AS scrubbed_digest
        FROM s
    """,
    "text_tfidf_top_terms": """
        WITH words AS (
            SELECT doc_id, unnest(string_split(text, ' ')) AS word
            FROM documents),
        tf AS (SELECT doc_id, word, COUNT(*) AS tf
               FROM words GROUP BY doc_id, word),
        df AS (SELECT word, COUNT(DISTINCT doc_id) AS df
               FROM words GROUP BY word),
        n AS (SELECT COUNT(*) AS n_docs FROM documents),
        scored AS (
            SELECT tf.doc_id, tf.word, tf.tf, df.df, n.n_docs,
                   ROUND(tf.tf * ln((n.n_docs + 1) / (df.df + 1.0)), 6) AS tfidf
            FROM tf JOIN df USING (word) CROSS JOIN n)
        SELECT doc_id, word, tf, df, tfidf, rk FROM (
            SELECT *, ROW_NUMBER() OVER (
                PARTITION BY doc_id ORDER BY tfidf DESC, word ASC) AS rk
            FROM scored)
        WHERE rk <= 3
    """,
    "text_inverted_index": """
        WITH words AS (
            SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS word
            FROM documents)
        SELECT word, COUNT(*) AS df,
               array_to_string(list_sort(list(doc_id)), ',') AS postings
        FROM words GROUP BY word
        HAVING COUNT(*) >= 2
    """,
    "text_bigram_freq": """
        WITH w AS (SELECT string_split(text, ' ') AS ws FROM documents),
        bg AS (
            SELECT unnest(list_transform(
                       generate_series(1, len(ws) - 1),
                       i -> ws[i] || ' ' || ws[i + 1])) AS bigram
            FROM w WHERE len(ws) >= 2)
        SELECT bigram, COUNT(*) AS freq FROM bg
        GROUP BY bigram HAVING COUNT(*) >= 10
    """,
}

ORACLE["text_remove_boilerplate"] = f"""
    WITH d AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
    segs AS (
        SELECT doc_id, i AS seg_idx,
               array_to_string(w[i * {SEG_WORDS} + 1 : (i + 1) * {SEG_WORDS}],
                               ' ') AS seg
        FROM d, unnest(generate_series(0, (len(w) - 1) // {SEG_WORDS}))
                  AS t(i)),
    sg AS (SELECT doc_id, seg_idx, seg, md5(seg) AS dg FROM segs),
    boiler AS (SELECT dg FROM sg GROUP BY dg
               HAVING COUNT(DISTINCT doc_id) >= 2),
    tot AS (SELECT doc_id, COUNT(*) AS n_segs FROM sg GROUP BY doc_id),
    kept AS (SELECT * FROM sg WHERE dg NOT IN (SELECT dg FROM boiler))
    SELECT k.doc_id, tot.n_segs, COUNT(*) AS n_kept,
           string_agg(seg, ' ' ORDER BY seg_idx) AS clean_text
    FROM kept k JOIN tot USING (doc_id)
    GROUP BY k.doc_id, tot.n_segs
"""


def _tfidf_pairs_oracle_sql() -> str:
    idf = (f"CAST(ROUND(({_ln_det('(n_docs + 1)', _lit_duck)}"
           f" - {_ln_det('(df + 1)', _lit_duck)}) * 1e3, 0) AS BIGINT)")
    return f"""
        WITH d AS (SELECT doc_id, string_split(text, ' ') AS w
                   FROM documents),
        grams AS (
            SELECT doc_id, unnest(list_transform(
                       generate_series(1, greatest(len(w) - 2, 0)),
                       i -> concat_ws(' ', w[i], w[i+1], w[i+2]))) AS t
            FROM d),
        tf AS (SELECT doc_id, t, COUNT(*) AS tf FROM grams GROUP BY 1, 2),
        dfc AS (SELECT t, COUNT(*) AS df FROM tf GROUP BY 1
                HAVING COUNT(*) <= {TFIDF_PAIR_DF_CAP}),
        n AS (SELECT COUNT(*) AS n_docs FROM documents),
        model AS (SELECT t, {idf} AS idf_m FROM dfc CROSS JOIN n),
        wts AS (SELECT doc_id, t, tf * idf_m AS w
                FROM tf JOIN model USING (t)),
        norms AS (SELECT doc_id, CAST(SUM(w * w) AS BIGINT) AS sq
                  FROM wts GROUP BY 1),
        pairs AS (
            SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                   COUNT(*) AS n_shared,
                   CAST(SUM(a.w * b.w) AS BIGINT) AS s_ab
            FROM wts a JOIN wts b ON a.t = b.t AND a.doc_id < b.doc_id
            GROUP BY 1, 2
            HAVING COUNT(*) >= {TFIDF_PAIR_MIN_SHARED})
        SELECT p.doc_a, p.doc_b, p.n_shared, p.s_ab,
               CAST(FLOOR(CAST(p.s_ab AS DOUBLE)
                    / sqrt(CAST(na.sq AS DOUBLE)
                           * CAST(nb.sq AS DOUBLE)) * 1e6) AS BIGINT)
                   AS cos_e6
        FROM pairs p
        JOIN norms na ON na.doc_id = p.doc_a
        JOIN norms nb ON nb.doc_id = p.doc_b
    """


ORACLE["text_tfidf_doc_pairs"] = _tfidf_pairs_oracle_sql()


def _pmi_oracle_sql() -> str:
    pmi = (f"CAST(ROUND(({_ln_det('n_docs', _lit_duck)}"
           f" + {_ln_det('c_ab', _lit_duck)}"
           f" - {_ln_det('c_a', _lit_duck)}"
           f" - {_ln_det('c_b', _lit_duck)}) * 1e6, 0) AS BIGINT)")
    return f"""
        WITH dw AS (
            SELECT DISTINCT doc_id,
                   unnest(list_distinct(string_split(text, ' '))) AS word
            FROM documents),
        dfc AS (SELECT word, COUNT(*) AS c FROM dw GROUP BY 1
                HAVING COUNT(*) >= {PMI_DF_MIN}),
        dwf AS (SELECT doc_id, word, c FROM dw JOIN dfc USING (word)),
        pairs AS (
            SELECT a.word AS word_a, b.word AS word_b,
                   a.c AS c_a, b.c AS c_b, COUNT(*) AS c_ab
            FROM dwf a JOIN dwf b
              ON a.doc_id = b.doc_id AND a.word < b.word
            GROUP BY 1, 2, 3, 4
            HAVING COUNT(*) >= {PMI_MIN_COOC}),
        n AS (SELECT COUNT(*) AS n_docs FROM documents)
        SELECT word_a, word_b, c_a, c_b, c_ab, {pmi} AS pmi_u
        FROM pairs CROSS JOIN n
    """


ORACLE["text_pmi_cooccurrence"] = _pmi_oracle_sql()

ORACLE["text_bm25_top_terms"] = f"""
    WITH words AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS word
        FROM documents),
    tf AS (SELECT doc_id, word, COUNT(*) AS tf
           FROM words GROUP BY doc_id, word),
    df AS (SELECT word, COUNT(*) AS df FROM tf GROUP BY word),
    dl AS (SELECT doc_id, SUM(tf)::BIGINT AS dl FROM tf GROUP BY doc_id),
    scal AS (SELECT SUM(dl)::BIGINT AS total_words,
                    COUNT(*)::BIGINT AS n_docs FROM dl),
    scored AS (
        SELECT tf.doc_id, tf.word, tf.tf, df.df, dl.dl,
               {_bm25_e6_expr(_lit_duck)} AS bm25_e6
        FROM tf JOIN df USING (word) JOIN dl ON dl.doc_id = tf.doc_id,
             scal),
    ranked AS (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
                                     ORDER BY bm25_e6 DESC, word) AS rk
        FROM scored)
    SELECT doc_id, word, tf, df, dl, bm25_e6, rk
    FROM ranked WHERE rk <= {BM25_TOP}
"""

ORACLE["text_textrank_keywords"] = _textrank_oracle()

ORACLE["text_bm25_retrieval"] = f"""
    WITH words AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS word
        FROM documents),
    tf AS (SELECT doc_id, word, COUNT(*) AS tf
           FROM words GROUP BY doc_id, word),
    dfr AS (SELECT word, COUNT(*) AS df FROM tf GROUP BY word),
    dl AS (SELECT doc_id, SUM(tf)::BIGINT AS dl FROM tf GROUP BY doc_id),
    scal AS (SELECT SUM(dl)::BIGINT AS total_words,
                    COUNT(*)::BIGINT AS n_docs FROM dl),
    qt AS (
        SELECT word, df, trk,
               CAST((trk - 1) // {BM25R_QLEN} AS INT) AS query_id
        FROM (SELECT word, df,
                     ROW_NUMBER() OVER (ORDER BY df DESC, word) AS trk
              FROM dfr)
        WHERE trk <= {BM25R_QUERIES * BM25R_QLEN}),
    qnames AS (SELECT query_id,
                      string_agg(word, ' ' ORDER BY trk) AS query_terms
               FROM qt GROUP BY query_id),
    scored AS (
        SELECT qt.query_id, tf.doc_id, tf.tf, qt.df, dl.dl,
               {_bm25_e6_expr(_lit_duck)} AS bm25_e6
        FROM tf JOIN qt USING (word) JOIN dl ON dl.doc_id = tf.doc_id,
             scal),
    qs AS (SELECT query_id, doc_id,
                  SUM(bm25_e6)::BIGINT AS score_e6
           FROM scored GROUP BY 1, 2),
    ranked AS (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                     ORDER BY score_e6 DESC, doc_id)
                  AS rk
        FROM qs)
    SELECT query_id, query_terms, doc_id, score_e6, rk
    FROM ranked JOIN qnames USING (query_id)
    WHERE rk <= {BM25R_TOPK}
"""

ORACLE["text_oov_rate"] = f"""
    WITH w AS (SELECT doc_id, unnest(string_split(text, ' ')) AS word
               FROM documents),
    vocab AS (
        SELECT word FROM (SELECT word, COUNT(*) AS cnt FROM w GROUP BY 1)
        ORDER BY cnt DESC, word LIMIT {VOCAB_K}),
    tagged AS (
        SELECT w.doc_id,
               CASE WHEN v.word IS NULL THEN 1 ELSE 0 END AS oov
        FROM w LEFT JOIN vocab v USING (word))
    SELECT doc_id, COUNT(*)::BIGINT AS n_tokens,
           SUM(oov)::BIGINT AS n_oov,
           ROUND(SUM(oov) / COUNT(*), 6) AS oov_rate
    FROM tagged GROUP BY 1
"""

ORACLE["quality_perplexity_buckets"] = f"""
    WITH lm AS ({ORACLE["text_unigram_lm_score"]}),
    j AS (SELECT lm.doc_id, d.lang, lm.n_tokens, lm.sum_logp_u,
                 CAST(lm.sum_logp_u AS DOUBLE) / lm.n_tokens AS score
          FROM lm JOIN documents d USING (doc_id))
    SELECT doc_id, lang, n_tokens, sum_logp_u,
           NTILE(3) OVER (PARTITION BY lang
                          ORDER BY score DESC, doc_id) AS ppl_bucket
    FROM j
"""

ORACLE["text_ngram_novelty"] = """
    WITH d AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
    grams AS (
        SELECT DISTINCT doc_id, md5(g) AS h
        FROM (SELECT doc_id,
                     unnest(list_transform(generate_series(1, len(w) - 2),
                         i -> concat_ws(' ', w[i], w[i+1], w[i+2]))) AS g
              FROM d WHERE len(w) >= 3)),
    firsts AS (SELECT h, MIN(doc_id) AS first_doc FROM grams GROUP BY 1)
    SELECT doc_id, COUNT(*)::BIGINT AS n_grams,
           SUM(CASE WHEN first_doc = doc_id THEN 1 ELSE 0 END)::BIGINT
               AS n_novel,
           ROUND(SUM(CASE WHEN first_doc = doc_id THEN 1 ELSE 0 END)
                 / COUNT(*), 6) AS novelty_rate
    FROM grams JOIN firsts USING (h)
    GROUP BY 1
"""

ORACLE["doc_length_log2_histogram"] = """
    WITH d AS (SELECT source, len(string_split(text, ' ')) AS n_tokens
               FROM documents)
    SELECT source, length(bin(n_tokens)) - 1 AS log2_bucket,
           COUNT(*)::BIGINT AS n_docs, SUM(n_tokens)::BIGINT AS sum_tokens
    FROM d GROUP BY 1, 2
"""


# Keep-first ownership via the window-rank construction — independent
# of the engine's min(struct) aggregate form.
ORACLE["corpus_line_dedup_keepfirst"] = f"""
    WITH d AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
    segs AS (
        SELECT doc_id, i AS seg_idx,
               array_to_string(w[i * {SEG_WORDS} + 1 : (i + 1) * {SEG_WORDS}],
                               ' ') AS seg
        FROM d, unnest(generate_series(0, (len(w) - 1) // {SEG_WORDS}))
                  AS t(i)),
    sg AS (SELECT doc_id, seg_idx, seg, md5(seg) AS dg FROM segs),
    kept AS (
        SELECT doc_id, seg_idx, seg FROM (
            SELECT doc_id, seg_idx, seg,
                   ROW_NUMBER() OVER (PARTITION BY dg
                                      ORDER BY doc_id, seg_idx) AS rn
            FROM sg)
        WHERE rn = 1),
    tot AS (SELECT doc_id, COUNT(*) AS n_segs FROM sg GROUP BY doc_id)
    SELECT k.doc_id, tot.n_segs, COUNT(*) AS n_kept,
           string_agg(seg, ' ' ORDER BY seg_idx) AS clean_text
    FROM kept k JOIN tot USING (doc_id)
    GROUP BY k.doc_id, tot.n_segs
"""

_ZX = f"CAST(floor({_ln_det('rank', _lit_duck)} * 1e6) AS BIGINT)"
_ZY = f"CAST(floor({_ln_det('cnt', _lit_duck)} * 1e6) AS BIGINT)"
ORACLE["text_zipf_slope"] = f"""
    WITH counts AS (
        SELECT w, COUNT(*)::BIGINT AS cnt
        FROM (SELECT unnest(string_split(text, ' ')) AS w
              FROM documents) GROUP BY 1),
    head AS (
        SELECT cnt,
               ROW_NUMBER() OVER (ORDER BY cnt DESC, w) AS rank
        FROM counts QUALIFY rank <= {ZIPF_TOP}),
    pts AS (SELECT {_ZX} AS x6, {_ZY} AS y6 FROM head),
    mo AS (
        SELECT COUNT(*)::BIGINT AS n,
               SUM(x6::DECIMAL(38,0)) AS sx,
               SUM(y6::DECIMAL(38,0)) AS sy,
               SUM((x6 * y6)::DECIMAL(38,0)) AS sxy,
               SUM((x6 * x6)::DECIMAL(38,0)) AS sxx
        FROM pts)
    SELECT CAST(n AS INT) AS n_terms,
           CAST(floor(CAST(n * sxy - sx * sy AS DOUBLE)
                      / CAST(n * sxx - sx * sx AS DOUBLE) * 1e6)
                AS BIGINT) AS slope_e6,
           CAST(floor((CAST(sy AS DOUBLE)
                       - CAST(n * sxy - sx * sy AS DOUBLE)
                         / CAST(n * sxx - sx * sx AS DOUBLE)
                         * CAST(sx AS DOUBLE)) / CAST(n AS DOUBLE))
                AS BIGINT) AS intercept_e6
    FROM mo
"""

ORACLE["corpus_heaps_curve"] = f"""
    WITH toks AS (
        SELECT doc_id % {HEAPS_SHARDS} AS shard,
               unnest(string_split(text, ' ')) AS w
        FROM documents),
    per_shard AS (
        SELECT shard, COUNT(*)::BIGINT AS n_tokens
        FROM toks GROUP BY 1),
    firsts AS (
        SELECT fs AS shard, COUNT(*)::BIGINT AS n_new_terms
        FROM (SELECT w, MIN(shard) AS fs FROM toks GROUP BY 1)
        GROUP BY 1)
    SELECT p.shard, p.n_tokens,
           COALESCE(f.n_new_terms, 0)::BIGINT AS n_new_terms,
           SUM(p.n_tokens) OVER (ORDER BY p.shard)::BIGINT AS tokens_cum,
           SUM(COALESCE(f.n_new_terms, 0))
               OVER (ORDER BY p.shard)::BIGINT AS vocab_cum
    FROM per_shard p LEFT JOIN firsts f USING (shard)
"""

_EN_HITS = _HITS["en"]
ORACLE["eval_auc_stopword"] = f"""
    WITH per AS (
        SELECT {_EN_HITS} AS s, COUNT(*)::BIGINT AS n,
               SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END)::BIGINT
                   AS n_pos
        FROM documents GROUP BY 1),
    mid AS (
        SELECT n, n_pos,
               (COALESCE(SUM(n) OVER (ORDER BY s
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                    0) * 2 + n + 1)::HUGEINT AS mid2
        FROM per),
    tot AS (
        -- HUGEINT, not DECIMAL: DuckDB's // on DECIMAL rounds through
        -- a float quotient (measured: ...604.9), only the integer
        -- types divide exactly.  Spark's decimal div truncates the
        -- exact quotient, matching HUGEINT //.
        SELECT SUM(n_pos::HUGEINT * mid2) AS rpos2,
               SUM(n_pos)::HUGEINT AS np,
               (SUM(n) - SUM(n_pos))::HUGEINT AS nn
        FROM mid)
    SELECT CAST(np AS BIGINT) AS n_pos, CAST(nn AS BIGINT) AS n_neg,
           CASE WHEN np = 0 OR nn = 0 THEN CAST(NULL AS BIGINT)
                ELSE CAST((rpos2 - np * (np + 1)) * 1000000
                     // (2 * np * nn) AS BIGINT) END AS auc_ppm
    FROM tot
"""

ORACLE["eval_calibration_bins"] = f"""
    SELECT {_EN_HITS} AS score_bin, COUNT(*)::BIGINT AS n_docs,
           SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END)::BIGINT AS n_en,
           CAST(FLOOR(SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END)
                      * 1e6 / COUNT(*)) AS BIGINT) AS rate_ppm
    FROM documents GROUP BY 1
"""

ORACLE["chunk_content_defined"] = f"""
    WITH ws AS (
        SELECT doc_id, string_split(text, ' ') AS a FROM documents),
    w AS (
        SELECT doc_id, a[j] AS w, j AS pos
        FROM ws, unnest(generate_series(1, len(a))) AS u(j)),
    f AS (
        SELECT doc_id, w, pos,
               CASE WHEN ('0x' || substr(md5(w), 1, 8))::BIGINT
                         % {CDC_MOD} = 0 THEN 1 ELSE 0 END AS b
        FROM w),
    c AS (
        SELECT doc_id, w, pos,
               COALESCE(SUM(b) OVER (PARTITION BY doc_id ORDER BY pos
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                   0) AS cid
        FROM f),
    ch AS (
        SELECT doc_id, cid,
               md5(string_agg(w, ' ' ORDER BY pos)) AS chunk_md5,
               COUNT(*)::BIGINT AS n_words
        FROM c GROUP BY 1, 2),
    agg AS (
        SELECT chunk_md5, COUNT(*)::BIGINT AS n_occurrences,
               COUNT(DISTINCT doc_id)::BIGINT AS n_docs,
               MIN(n_words)::BIGINT AS n_words
        FROM ch GROUP BY 1)
    SELECT CAST(ROW_NUMBER() OVER (ORDER BY n_occurrences DESC,
                                   chunk_md5) AS INT) AS rk,
           chunk_md5, n_occurrences, n_docs, n_words
    FROM agg WHERE n_occurrences > 1
    ORDER BY rk LIMIT {CDC_TOP}
"""

ORACLE["eval_langid_confusion"] = (
    "WITH p AS (" + ORACLE["text_langid"] + """),
    c AS (SELECT lang, pred_lang, COUNT(*)::BIGINT AS n
          FROM p GROUP BY 1, 2),
    t AS (SELECT lang, SUM(n)::BIGINT AS tot FROM c GROUP BY 1)
    SELECT c.lang, c.pred_lang, c.n,
           ((c.n::HUGEINT * 1000000) // t.tot)::BIGINT AS row_ppm
    FROM c JOIN t USING (lang)
""")


ORACLE["text_kneser_ney_score"] = f"""
    WITH d AS (SELECT doc_id, string_split(text, ' ') AS w
               FROM documents),
    bg AS (SELECT doc_id, w[i] AS prev, w[i + 1] AS word
           FROM d, unnest(generate_series(1, greatest(len(w) - 1, 0)))
                   AS t(i)),
    words AS (SELECT unnest(string_split(text, ' ')) AS word
              FROM documents),
    uni AS (SELECT word, COUNT(*) AS c FROM words GROUP BY word),
    bi AS (SELECT prev, word, COUNT(*) AS c_ab FROM bg GROUP BY 1, 2),
    n1p AS (SELECT prev, COUNT(*) AS n1p_a FROM bi GROUP BY prev),
    n1l AS (SELECT word, COUNT(*) AS n1l_w FROM bi GROUP BY word),
    bt AS (SELECT COUNT(*) AS B FROM bi),
    model AS (
        SELECT bi.prev, bi.word,
               CAST(ROUND((
                   {_ln_det('((4 * c_ab - 3) * B + 3 * n1p_a * n1l_w)',
                            _lit_duck)}
                   - {_ln_det('(4 * c_a * B)', _lit_duck)}) * 1e6, 0)
                    AS BIGINT) AS logp_kn
        FROM bi
        JOIN n1p USING (prev)
        JOIN n1l USING (word)
        JOIN (SELECT word AS prev, c AS c_a FROM uni) ua USING (prev)
        CROSS JOIN bt)
    SELECT doc_id, COUNT(*) AS n_bigrams,
           SUM(logp_kn)::BIGINT AS sum_logp_kn,
           ROUND(SUM(logp_kn) / COUNT(*) / 1e6, 6) AS mean_logp
    FROM bg JOIN model USING (prev, word)
    GROUP BY doc_id
"""


ORACLE["text_watermark_scan"] = """
    WITH t AS (SELECT doc_id, lang,
                      CASE WHEN doc_id % 37 = 0
                           THEN text || chr(8203) ELSE text END AS tx
               FROM documents),
    c AS (SELECT doc_id, lang,
                 len(regexp_extract_all(tx, '[​‌‍﻿­⁠]')) AS n_wm
          FROM t)
    SELECT lang, (n_wm > 0) AS flagged, COUNT(*)::BIGINT AS n_docs,
           SUM(n_wm)::BIGINT AS n_wm_chars,
           MIN(doc_id)::BIGINT AS first_doc
    FROM c GROUP BY 1, 2
"""


def _llr_oracle() -> str:
    t = _llr_term
    llr = (f"2 * ({t('k11', '(k11 * N)', '(ca * cb)', _lit_duck)}"
           f" + {t('k12', '(k12 * N)', '(ca * (N - cb))', _lit_duck)}"
           f" + {t('k21', '(k21 * N)', '((N - ca) * cb)', _lit_duck)}"
           + " + " + t('k22', '(k22 * N)',
                        '((N - ca) * (N - cb))', _lit_duck) + ")")
    return f"""
        WITH d AS (SELECT string_split(text, ' ') AS w FROM documents),
        bg AS (SELECT w[i] AS a, w[i + 1] AS b
               FROM d, unnest(generate_series(1,
                        greatest(len(w) - 1, 0))) AS t(i)),
        bi AS (SELECT a, b, COUNT(*)::BIGINT AS k11
               FROM bg GROUP BY 1, 2),
        ra AS (SELECT a, SUM(k11)::BIGINT AS ca FROM bi GROUP BY 1),
        cbm AS (SELECT b, SUM(k11)::BIGINT AS cb FROM bi GROUP BY 1),
        tot AS (SELECT SUM(k11)::BIGINT AS N FROM bi),
        m AS (SELECT bi.a, bi.b, bi.k11, ra.ca, cbm.cb, tot.N,
                     (ra.ca - bi.k11)::BIGINT AS k12,
                     (cbm.cb - bi.k11)::BIGINT AS k21,
                     (tot.N - ra.ca - cbm.cb + bi.k11)::BIGINT AS k22
              FROM bi JOIN ra USING (a) JOIN cbm USING (b)
              CROSS JOIN tot),
        s AS (SELECT a, b, k11, {llr} AS llr_e6 FROM m)
        SELECT a, b, k11, llr_e6 FROM s
        ORDER BY llr_e6 DESC, a, b LIMIT {LLR_TOP}
    """


ORACLE["text_collocations_llr"] = _llr_oracle()


ENSEMBLE_KEEP_PTS = 70   # gate threshold on the 100-point ensemble


def q_quality_ensemble_gate(spark, sf_dir):
    """ENSEMBLE quality gate — the aggregate filter a production
    curation run applies after computing the individual signals (the
    C4/Gopher-pipeline composition step): fuse four independent
    verdicts into one 100-point integer score per document and gate at
    ENSEMBLE_KEEP_PTS.

      pts_quality (30) — text_quality's heuristic gate;
      pts_gopher  (30) — the Gopher repetition gate;
      pts_lang    (20) — langid prediction agrees with the declared
                         lang (metadata-consistency check);
      pts_lm      (20) — the doc's mean unigram log-likelihood beats
                         the token-weighted corpus mean, compared
                         DIVISION-FREE by integer cross-multiplication
                         s_d * N_tok > S * n_d in DECIMAL(38,0)/
                         HUGEINT (no rounding, no overflow at any
                         corpus size).

    Composition by construction: each arm IS the already-oracled
    parent operator (the dedup_family_overlap doctrine), so the
    ensemble inherits their determinism; fusion is integer addition.
    Scale: three doc_id-keyed joins of corpus-sized relations (bucket
    by doc_id at 100 TB and they co-locate) + one broadcast 1-row
    total.

    Output: (doc_id, pts_quality, pts_gopher, pts_lang, pts_lm,
    ensemble_pts, keep_ensemble).
    """
    q = q_text_quality(spark, sf_dir).select(
        "doc_id", (F.col("passes_quality").cast("long") * 30)
        .alias("pts_quality"))
    g = q_text_repetition(spark, sf_dir).select(
        "doc_id", (F.col("keep").cast("long") * 30).alias("pts_gopher"))
    lid = q_text_langid(spark, sf_dir).select(
        "doc_id", ((F.col("pred_lang") == F.col("lang")).cast("long")
                   * 20).alias("pts_lang"))
    lm = q_text_lm_score(spark, sf_dir).select(
        "doc_id", "n_tokens", "sum_logp_u")
    tot = lm.agg(F.sum("n_tokens").alias("n_tok_all"),
                 F.sum("sum_logp_u").alias("s_all"))
    lm_pts = (lm.crossJoin(F.broadcast(tot))
              .select("doc_id", (F.expr(
                  "CAST(sum_logp_u AS DECIMAL(38,0)) * n_tok_all"
                  " > CAST(s_all AS DECIMAL(38,0)) * n_tokens")
                  .cast("long") * 20).alias("pts_lm")))
    j = (q.join(g, "doc_id").join(lid, "doc_id").join(lm_pts, "doc_id")
         .withColumn("ensemble_pts",
                     F.col("pts_quality") + F.col("pts_gopher")
                     + F.col("pts_lang") + F.col("pts_lm")))
    return j.select("doc_id", "pts_quality", "pts_gopher", "pts_lang",
                    "pts_lm", "ensemble_pts",
                    (F.col("ensemble_pts") >= ENSEMBLE_KEEP_PTS)
                    .alias("keep_ensemble"))


QUERIES["quality_ensemble_gate"] = q_quality_ensemble_gate

ORACLE["quality_ensemble_gate"] = f"""
    WITH tq AS ({ORACLE["text_quality"]}),
    tg AS ({ORACLE["text_repetition_gopher"]}),
    tl AS ({ORACLE["text_langid"]}),
    lm AS ({ORACLE["text_unigram_lm_score"]}),
    tot AS (SELECT SUM(n_tokens)::BIGINT AS n_tok_all,
                   SUM(sum_logp_u)::BIGINT AS s_all FROM lm),
    pts AS (
        SELECT tq.doc_id,
               (CASE WHEN tq.passes_quality THEN 1 ELSE 0 END * 30)
                   ::BIGINT AS pts_quality,
               (CASE WHEN tg.keep THEN 1 ELSE 0 END * 30)
                   ::BIGINT AS pts_gopher,
               (CASE WHEN tl.pred_lang = tl.lang THEN 1 ELSE 0 END
                   * 20)::BIGINT AS pts_lang,
               (CASE WHEN lm.sum_logp_u::HUGEINT * tot.n_tok_all
                          > tot.s_all::HUGEINT * lm.n_tokens
                     THEN 1 ELSE 0 END * 20)::BIGINT AS pts_lm
        FROM tq JOIN tg ON tg.doc_id = tq.doc_id
                JOIN tl ON tl.doc_id = tq.doc_id
                JOIN lm ON lm.doc_id = tq.doc_id, tot)
    SELECT doc_id, pts_quality, pts_gopher, pts_lang, pts_lm,
           (pts_quality + pts_gopher + pts_lang + pts_lm)::BIGINT
               AS ensemble_pts,
           (pts_quality + pts_gopher + pts_lang + pts_lm)
               >= {ENSEMBLE_KEEP_PTS} AS keep_ensemble
    FROM pts
"""


RAKE_TOP = 20          # keyphrases returned
RAKE_MAX_PHRASE = 4    # max words per candidate phrase (standard RAKE cap)


def q_text_keyphrase_rake(spark, sf_dir):
    """RAKE corpus KEYPHRASES (Rose et al. 2010) — the phrase-level
    complement to TextRank's word ranking: candidate phrases are
    maximal stopword-free token runs (<= {m} words), each word scores
    degree/frequency over phrase INSTANCES (degree = Σ lengths of the
    phrases it appears in), and a phrase scores the sum of its member
    words' scores.  Word scores are floor-quantized to e6 BEFORE the
    phrase sum (one DIV per word, positive operands — truncation ==
    floor in both engines), making the whole ranking integer-exact.

    Scale: phrase segmentation is one doc-keyed window over token
    positions (a doc's tokens co-reside by construction); word stats
    and phrase scores are two hash aggs over the phrase-instance
    relation; the only global step is the TakeOrdered top-{k} on the
    COMPACTED distinct-phrase relation.  Degree sums widen to
    DECIMAL(38,0)/HUGEINT before the x1e6.

    Output: (rk, phrase, n_occurrences, score_e6).
    """.format(m=RAKE_MAX_PHRASE, k=RAKE_TOP)
    d = _docs(spark, sf_dir)
    sw = F.array(*[F.lit(w) for w in STOPWORDS["en"]])
    toks = (d.select("doc_id",
                     F.posexplode(words(F.lower("text")))
                     .alias("pos", "w"))
             .withColumn("is_stop", F.array_contains(sw, F.col("w"))))
    grp = F.sum(F.col("is_stop").cast("int")).over(
        Window.partitionBy("doc_id").orderBy("pos")
              .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    ph = (toks.withColumn("grp", grp)
              .filter(~F.col("is_stop"))
              .groupBy("doc_id", "grp")
              .agg(F.array_join(F.transform(
                       F.array_sort(F.collect_list(F.struct("pos", "w"))),
                       lambda s: s["w"]), " ").alias("phrase"),
                   F.count(F.lit(1)).alias("plen"))
              .filter(F.col("plen") <= RAKE_MAX_PHRASE))
    pw = ph.select("plen", F.explode(words("phrase")).alias("w"))
    ws = (pw.groupBy("w")
            .agg(F.expr("CAST(CAST(SUM(plen) AS DECIMAL(38,0)) * 1000000"
                        " DIV COUNT(*) AS BIGINT)").alias("wscore_e6")))
    pu = ph.groupBy("phrase").agg(F.count(F.lit(1)).alias("n_occurrences"))
    psc = (pu.select("phrase", "n_occurrences",
                     F.explode(words("phrase")).alias("w"))
             .join(ws, "w")
             .groupBy("phrase", "n_occurrences")
             .agg(F.sum("wscore_e6").cast("long").alias("score_e6")))
    top = (psc.orderBy(F.desc("score_e6"), "phrase").limit(RAKE_TOP)
              .withColumn("rk", F.row_number().over(
                  Window.orderBy(F.desc("score_e6"), F.asc("phrase")))))
    return top.select("rk", "phrase", "n_occurrences", "score_e6")


QUERIES["text_keyphrase_rake"] = q_text_keyphrase_rake

ORACLE["text_keyphrase_rake"] = f"""
    WITH toks AS (
        SELECT doc_id, j - 1 AS pos, a[j] AS w,
               a[j] IN ({_SW["en"][1:-1]}) AS is_stop
        FROM (SELECT doc_id, string_split(lower(text), ' ') AS a
              FROM documents),
             unnest(generate_series(1, len(a))) AS u(j)),
    g AS (SELECT doc_id, pos, w, is_stop,
                 SUM(CASE WHEN is_stop THEN 1 ELSE 0 END)
                     OVER (PARTITION BY doc_id ORDER BY pos) AS grp
          FROM toks),
    ph AS (SELECT doc_id, grp,
                  string_agg(w, ' ' ORDER BY pos) AS phrase,
                  COUNT(*) AS plen
           FROM g WHERE NOT is_stop GROUP BY doc_id, grp
           HAVING COUNT(*) <= {RAKE_MAX_PHRASE}),
    pw AS (SELECT plen, unnest(string_split(phrase, ' ')) AS w FROM ph),
    ws AS (SELECT w, CAST(SUM(plen)::HUGEINT * 1000000 // COUNT(*)
                          AS BIGINT) AS wscore_e6
           FROM pw GROUP BY w),
    pu AS (SELECT phrase, COUNT(*)::BIGINT AS n_occurrences
           FROM ph GROUP BY phrase),
    pwx AS (SELECT phrase, n_occurrences,
                   unnest(string_split(phrase, ' ')) AS w
            FROM pu),
    psc AS (SELECT phrase, n_occurrences,
                   SUM(ws.wscore_e6)::BIGINT AS score_e6
            FROM pwx JOIN ws USING (w) GROUP BY 1, 2)
    SELECT ROW_NUMBER() OVER (ORDER BY score_e6 DESC, phrase) AS rk,
           phrase, n_occurrences, score_e6
    FROM psc ORDER BY score_e6 DESC, phrase LIMIT {RAKE_TOP}
"""


BURST_MIN_DF = 5     # words must appear in >= this many docs
BURST_TOP = 30       # burstiest words returned


def q_text_word_burstiness(spark, sf_dir):
    """Word BURSTINESS (Church & Gale 1995): the variance-to-mean
    ratio of a word's per-document counts over the documents that
    contain it — function words sit near Poisson (VMR ~ 1), content/
    topical words "burst" (VMR >> 1).  The standard lexical statistic
    for weighting schemes and stopword induction, and a quality signal
    (template/boilerplate corpora show depressed burstiness).

    Engine-exact: per word the sufficient statistics are integers
    (n = df, S = Σc, Q = Σc²) from ONE partial+final agg over the
    (doc, word) count relation; VMR_e6 = (n·Q − S²)·1e6 DIV
    (S·(n−1)) — non-negative numerator, positive denominator, so
    truncation == floor in both engines; products widen to
    DECIMAL(38,0)/HUGEINT.  Top-{k} is a TakeOrdered over the
    df-filtered vocab relation.

    Output: (rk, word, df, cf, vmr_e6).
    """.format(k=BURST_TOP)
    d = _docs(spark, sf_dir)
    tf = (d.select("doc_id",
                   F.explode(words(F.lower("text"))).alias("w"))
           .groupBy("doc_id", "w")
           .agg(F.count(F.lit(1)).alias("c")))
    stats = (tf.groupBy("w")
               .agg(F.count(F.lit(1)).alias("df"),
                    F.sum("c").alias("cf"),
                    F.sum(F.col("c") * F.col("c")).alias("q"))
               .filter(F.col("df") >= BURST_MIN_DF))
    vmr = F.expr(
        "CAST((CAST(df AS DECIMAL(38,0)) * q - CAST(cf AS DECIMAL(38,0))"
        " * cf) * 1000000 DIV (CAST(cf AS DECIMAL(38,0)) * (df - 1))"
        " AS BIGINT)")
    scored = stats.select(F.col("w").alias("word"), "df", "cf",
                          vmr.alias("vmr_e6"))
    return (scored.orderBy(F.desc("vmr_e6"), "word").limit(BURST_TOP)
            .withColumn("rk", F.row_number().over(
                Window.orderBy(F.desc("vmr_e6"), F.asc("word"))))
            .select("rk", "word", "df", "cf", "vmr_e6"))


QUERIES["text_word_burstiness"] = q_text_word_burstiness

ORACLE["text_word_burstiness"] = f"""
    WITH tf AS (
        SELECT doc_id, w, COUNT(*)::BIGINT AS c FROM (
            SELECT doc_id, unnest(string_split(lower(text), ' ')) AS w
            FROM documents)
        GROUP BY 1, 2),
    stats AS (
        SELECT w AS word, COUNT(*)::BIGINT AS df, SUM(c)::BIGINT AS cf,
               SUM(c * c)::BIGINT AS q
        FROM tf GROUP BY 1 HAVING COUNT(*) >= {BURST_MIN_DF}),
    scored AS (
        SELECT word, df, cf,
               CAST((df::HUGEINT * q - cf::HUGEINT * cf) * 1000000
                    // (cf::HUGEINT * (df - 1)) AS BIGINT) AS vmr_e6
        FROM stats)
    SELECT ROW_NUMBER() OVER (ORDER BY vmr_e6 DESC, word) AS rk,
           word, df, cf, vmr_e6
    FROM scored ORDER BY vmr_e6 DESC, word LIMIT {BURST_TOP}
"""
