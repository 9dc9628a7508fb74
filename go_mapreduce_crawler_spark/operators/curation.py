"""Corpus-curation operators beyond the reference surface (SURVEY.md
§2.3 north star): model-based quality scoring, policy filtering, budgeted
selection, training-shard assignment, and robust event statistics.

Like every extension module, each operator is hash-deterministic (no
``rand()``), keeps the hot path in JVM built-ins, and carries a full
DuckDB value oracle.  The reference (MartinezGitHub/go-mapreduce-crawler,
crawler.go:204-255) has no curation surface of any kind — these are the
operations a 100 TB training-data pipeline layers on top of its
scan→map→fold kernel.
"""

from __future__ import annotations

from pyspark.sql import Window as W
from pyspark.sql import functions as F

from ..functions.text import words
from ..sources.tables import load_table, spread
from .retrieval_index import index_for


# ------------------------------------------------------------------
# Hashed linear quality classifier (fasttext-style, deterministic)
# ------------------------------------------------------------------
#
# A linear text classifier scores a document as the mean of per-token
# weights looked up by hashing the token into a weight table (the
# fastText / Vowpal-Wabbit hashing trick).  Here the weight table itself
# is derived from the hash — w(t) = md5_32(t) % 2001 - 1000, an integer
# in [-1000, 1000] ("milli-weights") — so both engines reproduce the
# model bit-for-bit without shipping a weight file.  Swapping in real
# trained weights = replacing this expression with a broadcast map
# lookup; the plan shape (row-local array fold, ZERO shuffles) is
# identical.

def _tok_weight_spark(tok):
    """Integer milli-weight of one token, identical in Spark and DuckDB."""
    return (F.conv(F.substring(F.md5(F.encode(tok, "UTF-8")), 1, 8), 16, 10)
             .cast("long") % 2001 - 1000)


def q_quality_classifier(spark, sf_dir):
    """Hashed-linear-model quality score per document.

    score = Σ_tokens w(token) as an exact integer (order-independent —
    safe under any partitioning), mean_w = round(score/n, 6) the only
    float op.  Row-local `aggregate` over the token array: a pure
    projection, no explode, no shuffle — the 100 TB plan is a single
    scan at full codegen speed.
    """
    d = load_table(spark, sf_dir, "documents")
    toks = words()
    score = F.aggregate(
        toks, F.lit(0).cast("long"),
        lambda acc, t: acc + _tok_weight_spark(t))
    n = F.size(toks)
    return d.select(
        "doc_id", "lang",
        n.alias("n_tokens"),
        score.alias("score_milli"),
        F.round(score.cast("double") / n, 6).alias("mean_weight"),
        (score > 0).alias("keep"))


# ------------------------------------------------------------------
# C4-style blocklist / policy filter with per-rule verdicts
# ------------------------------------------------------------------

BLOCKLIST = ("slow", "error", "drop")
MIN_WORDS, MAX_WORDS, MAX_WORD_LEN = 10, 5000, 25


def blocklist_verdict(d):
    """The blocklist policy projection over any documents relation —
    row-local, so it applies unchanged to a STREAMING DataFrame (the
    streaming-ingest curation form; parity pinned in
    tests/test_streaming.py)."""
    toks = words()
    n = F.size(toks)
    has_block = F.size(F.array_intersect(
        F.array_distinct(toks),
        F.array(*[F.lit(w) for w in BLOCKLIST]))) > 0
    too_long_word = F.array_max(F.transform(toks, F.length)) > MAX_WORD_LEN
    reasons = F.concat_ws(
        ",",
        F.when(has_block, "blocklist"),
        F.when(n < MIN_WORDS, "too_short"),
        F.when(n > MAX_WORDS, "too_long"),
        F.when(too_long_word, "long_word"))
    return d.select(
        "doc_id", "source",
        n.alias("n_words"),
        reasons.alias("reasons"),
        (reasons == "").alias("keep"))


def q_blocklist_filter(spark, sf_dir):
    """Rule-based document policy filter (the C4 "bad words" + length
    rules), emitting machine-readable rejection reasons.

    Every rule is a row-local boolean over the token array; ``reasons``
    concatenates the names of failed rules (concat_ws skips NULLs in
    both engines).  Zero shuffles — the filter itself is the workload,
    so at 100 TB this is one scan with all rules fused into codegen;
    the same projection applies unchanged to a streaming ingest
    (blocklist_verdict is the relation-in/relation-out form).
    """
    return blocklist_verdict(load_table(spark, sf_dir, "documents"))


# ------------------------------------------------------------------
# Token-budget selection per source
# ------------------------------------------------------------------

TOKEN_BUDGET = 5000


def q_sample_token_budget(spark, sf_dir):
    """Greedy per-source selection up to a token budget: documents are
    admitted in deterministic hash order while the budget is not yet
    exhausted (a doc is kept iff the tokens admitted BEFORE it are under
    budget — so the budget may be overshot by at most one document, the
    standard greedy-fill contract).

    This is the mixing step that turns "sample 10 docs per source" into
    "sample 5,000 TOKENS per source" — what an LM data recipe actually
    specifies.

    Scale (r04): the per-source running sum is the TWO-LEVEL
    distributed prefix sum (seq_packing_gpt's recipe) — the hash
    order key's leading 2 hex chars bucket each source into 256
    contiguous rank ranges; intra-bucket cumulative sums partition on
    (source, bucket) while bucket offsets come from a window over the
    |sources| x 256-row bucket summary, broadcast back.  Bucket order
    equals hash order by construction (a string sorts by its prefix
    first), so cum_tokens is bit-identical to the single per-source
    window — without any source's docs ever sorting in one task.
    """
    d = load_table(spark, sf_dir, "documents")
    n_tok = F.size(words())
    h = F.md5(F.encode(F.col("doc_id").cast("string"), "UTF-8"))
    base = d.select("doc_id", "source", n_tok.alias("n_tokens"),
                    h.alias("h"), F.substring(h, 1, 2).alias("bkt"))
    bsum = base.groupBy("source", "bkt").agg(F.sum("n_tokens").alias("s"))
    w_off = (W.partitionBy("source").orderBy("bkt")
              .rowsBetween(W.unboundedPreceding, -1))
    offs = bsum.select("source", "bkt",
                       F.coalesce(F.sum("s").over(w_off), F.lit(0))
                        .alias("off"))
    w_in = (W.partitionBy("source", "bkt").orderBy("h", "doc_id")
             .rowsBetween(W.unboundedPreceding, W.currentRow))
    out = (base.join(F.broadcast(offs), ["source", "bkt"])
               .withColumn("cum_tokens",
                           F.col("off") + F.sum("n_tokens").over(w_in)))
    return (out.filter(F.col("cum_tokens") - F.col("n_tokens") < TOKEN_BUDGET)
               .select("doc_id", "source", "n_tokens", "cum_tokens"))


# ------------------------------------------------------------------
# Deterministic training-shard assignment
# ------------------------------------------------------------------

N_SHARDS = 16


def q_shard_assignment(spark, sf_dir):
    """Assign every document to one of N_SHARDS training shards by hash,
    with a deterministic position within the shard — the declarative
    form of the final "global shuffle + write shards" step of a
    training-data pipeline.

    The physical realization at 100 TB is ``repartition(N, shard)`` +
    ``sortWithinPartitions(hash)`` + one file per partition; this query
    states the same assignment so it is oracle-checkable.  Hash-derived
    shard + hash-derived order = a reproducible global shuffle
    (re-running after appending documents never moves an existing doc
    to a different shard, unlike orderBy(rand(seed))).

    Scale (r04): the in-shard position uses the two-level prefix-count
    (sample_token_budget's recipe) — hash-prefix buckets rank locally
    on (shard, bucket); global positions add the broadcast per-bucket
    offsets, bit-identical to one window per shard without a shard's
    corpus ever ranking in one task.
    """
    d = load_table(spark, sf_dir, "documents")
    h = F.md5(F.encode(F.col("doc_id").cast("string"), "UTF-8"))
    shard = (F.conv(F.substring(h, 1, 4), 16, 10)
              .cast("long") % N_SHARDS).cast("int")
    base = d.select("doc_id", shard.alias("shard"), h.alias("h"),
                    F.substring(h, 1, 2).alias("bkt"))
    bcnt = base.groupBy("shard", "bkt").agg(F.count(F.lit(1)).alias("c"))
    w_off = (W.partitionBy("shard").orderBy("bkt")
              .rowsBetween(W.unboundedPreceding, -1))
    offs = bcnt.select("shard", "bkt",
                       F.coalesce(F.sum("c").over(w_off), F.lit(0))
                        .alias("off"))
    w_in = W.partitionBy("shard", "bkt").orderBy("h", "doc_id")
    return (base.join(F.broadcast(offs), ["shard", "bkt"])
                .withColumn("pos", (F.col("off")
                                    + F.row_number().over(w_in)).cast("int"))
                .select("doc_id", "shard", "pos"))


def q_skyline_pareto_docs(spark, sf_dir):
    """Skyline (Pareto-frontier) operator over documents: the docs not
    STRICTLY dominated on (quality score, length) — no other doc is
    better on BOTH axes — i.e. the classic SKYLINE operator
    (Borzsonyi et al., ICDE 2001) applied to the curation trade-off
    every data recipe faces: quality vs. quantity, where the frontier
    is exactly the set of defensible picks.

    Scale: the naive skyline is an all-pairs NOT EXISTS (the oracle
    states it that way as an independent formulation).  The engine
    form compacts first — groupBy(score) -> max length (one
    partial+final agg to |distinct scores| rows), a prefix-max window
    over that TINY relation ordered by score DESC (strictly-greater
    prefix via the 1-PRECEDING frame), broadcast back, row-local
    dominance test.  Documents shuffle once, into the score
    compaction; the window never touches them.  quality = the hashed
    linear classifier's exact integer score_milli, so both axes are
    integers and dominance is tie-exact.
    """
    d = load_table(spark, sf_dir, "documents")
    toks = words()
    score = F.aggregate(
        toks, F.lit(0).cast("long"),
        lambda acc, t: acc + _tok_weight_spark(t))
    base = d.select("doc_id", score.alias("score_milli"),
                    F.col("n_chars").cast("long").alias("n_chars"))
    per_score = base.groupBy("score_milli").agg(
        F.max("n_chars").alias("mx"))
    w = (W.orderBy(F.desc("score_milli"))
          .rowsBetween(W.unboundedPreceding, -1))
    pmax = per_score.select(
        "score_milli",
        F.coalesce(F.max("mx").over(w), F.lit(-1)).alias("better_mx"))
    # dominated <=> some strictly-better-scored doc is ALSO strictly
    # longer <=> better_mx > n_chars; a tie on length does not
    # dominate, so the keep test is >= (strict-both dominance).
    return (base.join(F.broadcast(pmax), "score_milli")
                .filter(F.col("n_chars") >= F.col("better_mx"))
                .select("doc_id", "score_milli", "n_chars"))


# ------------------------------------------------------------------
# Distributed BPE merge training
# ------------------------------------------------------------------

BPE_STEPS = 8


def q_bpe_train(spark, sf_dir):
    """Distributed BPE-style merge training: learn the first 8 merges
    over the corpus, treating words as initial symbols (the
    subword-regular form starts from characters; the algorithm is
    identical, and word-level merges keep the oracle's unrolled SQL
    tractable).

    Per step: (1) count adjacent symbol pairs corpus-wide — one explode
    + one partial+final aggregation; (2) take the top pair with the
    deterministic tie-break (count DESC, a, b) — a bounded 1-row
    collect, the same driver-side scalar pattern as k-means centroids;
    (3) rewrite every document row-locally (no shuffle).  The rewrite
    exploits a double-space encoding (' a  b ' -> ' a_b '): with TWO
    spaces between symbols and one at each boundary, a single
    non-overlapping string replace IS the leftmost-priority BPE merge —
    proven equivalent to the explicit fold by a 20k-case property test
    (test_properties.py) — and keeps both engines on plain string
    built-ins (DuckDB 1.0.0 segfaults on struct-accumulator
    list_reduce at corpus size, so lambdas are avoided BY DESIGN).
    localCheckpoint between steps caps plan depth exactly as
    dedup_components does.  At 100 TB the pair counts are
    word-bigram-shaped aggregations (map-side combine absorbs the head)
    and the rewrite is a narrow projection — the corpus-parallel
    Map-Reduce form of the Sennrich et al. trainer, one merge per
    round.

    Output: the learned merge table (step, a, b, merged, count) — 8
    rows, fully deterministic, value-oracled by an unrolled DuckDB
    pipeline that recomputes its own top pairs.
    """
    # spread (r12): the single-split fixture scan ran every round's
    # corpus-wide pair count in ONE task (guide §2.5); gated no-op on
    # a real multi-split corpus
    d = (spread(load_table(spark, sf_dir, "documents")
                .select("doc_id", "text"))
         .select("doc_id",
                 F.concat(F.lit(" "),
                          F.regexp_replace("text", " ", "  "),
                          F.lit(" ")).alias("s")))
    rows = []
    for step in range(BPE_STEPS):
        toks = F.split(F.trim(F.col("s")), "  ")
        n = F.size(toks)
        pairs = d.select(F.explode(F.zip_with(
            F.slice(toks, 1, n - 1), F.slice(toks, 2, n - 1),
            lambda x, y: F.struct(x.alias("a"), y.alias("b")))).alias("p"))
        top = (pairs.groupBy(F.col("p.a").alias("a"), F.col("p.b").alias("b"))
                    .agg(F.count(F.lit(1)).alias("cnt"))
                    .orderBy(F.desc("cnt"), "a", "b").limit(1).collect())[0]
        rows.append((step, top.a, top.b, top.a + "_" + top.b, top.cnt))
        d = d.select(
            "doc_id",
            F.replace(F.col("s"),
                      F.lit(f" {top.a}  {top.b} "),
                      F.lit(f" {top.a}_{top.b} ")).alias("s"))
        d = d.localCheckpoint(eager=False)
    return spark.createDataFrame(
        rows, "step int, a string, b string, merged string, cnt long")


def _bpe_oracle_sql() -> str:
    """Unrolled 8-step DuckDB mirror: each step computes ITS OWN top
    pair and rewrites the corpus with the same double-space replace."""
    parts = ["WITH d0 AS (SELECT doc_id,"
             " ' ' || replace(text, ' ', '  ') || ' ' AS s"
             " FROM documents)"]
    for i in range(BPE_STEPS):
        parts.append(f"""
        , t{i} AS (
            SELECT a, b, cnt FROM (
                SELECT seq[i] AS a, seq[i + 1] AS b, COUNT(*) AS cnt
                FROM (SELECT string_split(trim(s, ' '), '  ') AS seq
                      FROM d{i}),
                     unnest(generate_series(1, greatest(len(seq) - 1, 0)))
                         AS u(i)
                GROUP BY 1, 2)
            ORDER BY cnt DESC, a, b LIMIT 1)
        , d{i + 1} AS (
            SELECT doc_id,
                   replace(s, ' ' || a || '  ' || b || ' ',
                              ' ' || a || '_' || b || ' ') AS s
            FROM d{i}, t{i})""")
    selects = " UNION ALL ".join(
        f"SELECT {i} AS step, a, b, a || '_' || b AS merged, cnt FROM t{i}"
        for i in range(BPE_STEPS))
    return "".join(parts) + " " + selects


def _bpe_apply_oracle_sql() -> str:
    """Same unrolled pipeline as _bpe_oracle_sql, but the output is the
    final corpus's per-document token accounting."""
    body = _bpe_oracle_sql()
    prefix = body[:body.rindex(" SELECT 0 AS step")]
    return prefix + f"""
        SELECT d0.doc_id,
               len(string_split(trim(d0.s, ' '), '  ')) AS n_tokens_before,
               len(string_split(trim(d{BPE_STEPS}.s, ' '), '  '))
                   AS n_tokens_after,
               ROUND(len(string_split(trim(d{BPE_STEPS}.s, ' '), '  '))::DOUBLE
                     / len(string_split(trim(d0.s, ' '), '  ')), 6) AS ratio
        FROM d0 JOIN d{BPE_STEPS} USING (doc_id)
    """


def q_bpe_fertility_by_lang(spark, sf_dir):
    """Tokenizer FERTILITY audit: tokens-per-word by language after
    applying the trained merges — the standard multilingual-tokenizer
    health metric (a vocab trained on English-heavy data tokenizes
    low-resource languages into more pieces per word; fertility per
    language is how that tax is measured before committing a vocab to
    a training run; cf. the per-language fertility tables in the
    XLM-R/BLOOM tokenizer analyses).

    Composition: the q_bpe_apply per-doc accounting (row-local merge
    application after the bounded-collect trainer) joined to the
    documents dim for lang, then ONE partial+final agg on the |langs|
    key.  fertility_ppm = Σ tokens_after * 1e6 DIV Σ words — integer,
    engine-exact; the oracle composes the unrolled-8-step BPE oracle
    verbatim.
    """
    acct = q_bpe_apply(spark, sf_dir)
    lang = load_table(spark, sf_dir, "documents").select("doc_id", "lang")
    return (acct.join(lang, "doc_id")
            .groupBy("lang")
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.sum("n_tokens_before").alias("sum_words"),
                 F.sum("n_tokens_after").alias("sum_tokens"))
            .select("lang", "n_docs", "sum_words", "sum_tokens",
                    F.expr("CAST((CAST(sum_tokens AS DECIMAL(38,0)) * 1000000)"
                           " DIV sum_words AS BIGINT)")
                     .alias("fertility_ppm")))


# ------------------------------------------------------------------
# Batched BPE: top-N compatible merges per Spark round
# ------------------------------------------------------------------

BPE_B_ROUNDS = 5    # Spark rounds (vs 8 for the 8-merge sequential toy)
BPE_B_TOPN = 96     # candidate pool ranked per round
BPE_B_BATCH = 16    # max merges accepted per round


def _sql_str(s: str) -> str:
    """SQL single-quoted string literal with Spark's backslash-escape
    rules (see similarity._dot_sql for why generated SQL beats Column
    construction: one JVM parse instead of a py4j round-trip per
    literal — measured ~1 s of pure driver-side plan building per
    128-merge round).

    Assumes the DEFAULT ``spark.sql.parser.escapedStringLiterals=
    false`` (pinned in session.get_spark): with that conf true, the
    backslash escapes here would be taken literally and the generated
    fold would silently rewrite wrong patterns."""
    return "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"


def _bpe_rewrite_expr(batch) -> "F.Column":
    """The fold-over-merge-array rewrite of column ``s`` as ONE
    generated-SQL expression.  Identical semantics to the previous
    F.array(F.struct(F.lit...)) construction (the expression SHAPE is
    still constant across rounds, so codegen compiles it once); only
    the plan-construction cost changes — 2 py4j calls per round
    instead of ~2 per accepted merge."""
    structs = ",".join(
        "named_struct('pat'," + _sql_str(f" {r.a}  {r.b} ")
        + ",'rep'," + _sql_str(f" {r.a}_{r.b} ") + ")"
        for r in batch)
    return F.expr(
        f"aggregate(array({structs}), s, (acc, m) -> "
        "replace(acc, m.pat, m.rep))")


def q_bpe_train_batched(spark, sf_dir):
    """Batched BPE merge training: ≥64 merges in FIVE Spark rounds —
    the scale form of q_bpe_train, whose one-merge-per-round driver
    loop cannot reach a 32k-merge vocabulary (VERDICT r05 #6).

    Per round: (1) one corpus-wide adjacent-pair count (the same
    explode + partial/final agg as the sequential trainer); (2) rank
    the top {topn} pairs by (count DESC, a, b) — a bounded collect;
    (3) GREEDY NON-CHAINING selection: walk the pool in rank order,
    accept (a, b) iff a was not used as a RIGHT and b not as a LEFT by
    an earlier accepted pair (and a != b), stop at {batch}.  The rule
    is exactly what batching needs: two accepted occurrences can only
    overlap at a shared position, which requires a chain "x a b" (one
    pair's left = another's right) — forbidden — so replacing " a  b "
    cannot create or destroy an occurrence of any other accepted pair
    and the batched rewrite equals applying those merges sequentially
    against the round's frequency snapshot (the standard
    frequency-snapshot batching of distributed BPE trainers, but with
    same-left / same-right families batching together — the r07
    upgrade from full symbol-disjointness, whose acceptance plateaued
    at ~16/round because every frequent pair shares a hot word).  It
    can differ from strict one-at-a-time BPE only in that counts
    refresh per ROUND, not per merge; the trade buys the rounds cut
    that makes a 32k vocabulary feasible.

    The rewrite is {batch} chained literal replaces in ONE narrow
    projection (row-local, zero shuffle); localCheckpoint caps plan
    depth per round.  Fully value-oracled: the DuckDB twin re-ranks
    its own pools and reproduces the greedy walk with a recursive CTE
    carrying the used-symbol list.  Pinned against a pure-Python
    reference trainer in tests/test_properties.py.
    """.format(topn=BPE_B_TOPN, batch=BPE_B_BATCH)
    return _bpe_train_batched_impl(spark, sf_dir, BPE_B_ROUNDS,
                                   BPE_B_TOPN, BPE_B_BATCH)


def _bpe_train_batched_impl(spark, sf_dir, rounds, topn, batch_cap):
    """The batched trainer, parameterized (rounds, pool size, per-round
    acceptance cap) — q_bpe_train_batched uses the 5x96x16 toy scale,
    q_bpe_train_batched512 the production-shaped 16x4096x64."""
    # spread (r12): the single-split fixture scan ran every round's
    # corpus-wide pair count in ONE task (guide §2.5); gated no-op on
    # a real multi-split corpus
    d = (spread(load_table(spark, sf_dir, "documents")
                .select("doc_id", "text"))
         .select("doc_id",
                 F.concat(F.lit(" "),
                          F.regexp_replace("text", " ", "  "),
                          F.lit(" ")).alias("s")))
    out = []
    for rnd in range(rounds):
        toks = F.split(F.trim(F.col("s")), "  ")
        n = F.size(toks)
        pairs = d.select(F.explode(F.zip_with(
            F.slice(toks, 1, n - 1), F.slice(toks, 2, n - 1),
            lambda x, y: F.struct(x.alias("a"), y.alias("b")))).alias("p"))
        pool = (pairs.groupBy(F.col("p.a").alias("a"),
                              F.col("p.b").alias("b"))
                     .agg(F.count(F.lit(1)).alias("cnt"))
                     .orderBy(F.desc("cnt"), "a", "b")
                     .limit(topn).collect())
        # Greedy NON-CHAINING acceptance (r07, replacing the stricter
        # symbol-disjoint rule): accept (a, b) iff a was not used as a
        # RIGHT and b not as a LEFT by an earlier accepted pair (and
        # a != b).  Two accepted occurrences can only overlap at a
        # shared position, which requires one pair's left to be
        # another's right (a chain "x a b") — exactly what this rule
        # forbids — so the batched rewrite still equals applying the
        # accepted merges sequentially against the round's snapshot,
        # while same-left families ("the X1", "the X2", ...) now batch
        # together: measured acceptance rose from ~16/round (the
        # symbol-disjoint plateau on this corpus: every frequent pair
        # shares a hot word) to the batch cap.
        used_l: set = set()
        used_r: set = set()
        batch = []
        for r in pool:
            if len(batch) >= batch_cap:
                break
            if r.a in used_r or r.b in used_l or r.a == r.b:
                continue
            used_l.add(r.a)
            used_r.add(r.b)
            batch.append(r)
        if not batch:        # no pairs at all -> later rounds are too
            break
        for bid, r in enumerate(batch, 1):
            out.append((len(out), rnd, bid, r.a, r.b,
                        r.a + "_" + r.b, r.cnt))
        # rewrite as a FOLD over an array of (pat, rep) literals: the
        # expression SHAPE is identical every round (only referenced
        # string values change), so whole-stage codegen compiles the
        # rewrite once instead of once per round — a 16-deep nested
        # replace chain re-compiled 5x dominated the wall time.  The
        # fold is built as ONE generated-SQL string (_bpe_rewrite_expr):
        # the previous F.array(F.struct(F.lit...)) construction cost a
        # py4j round-trip per literal — ~1 s of driver-side plan
        # building per 128-merge round, measured next to ~2 s of actual
        # execution.
        d = d.select("doc_id", _bpe_rewrite_expr(batch).alias("s"))
        d = d.localCheckpoint(eager=False)
    return spark.createDataFrame(
        out, "merge_id int, round int, bid int,"
             " a string, b string, merged string, cnt long")


BPE_512_ROUNDS = 4     # production-shaped: 512 merges in 4 rounds
BPE_512_TOPN = 2048
BPE_512_BATCH = 128


def q_bpe_train_batched512(spark, sf_dir):
    """The batched trainer at PRODUCTION SHAPE (VERDICT r06 item 6):
    512 merges in four Spark rounds — the non-chaining acceptance rule
    fills a 128-merge batch every round (the symbol-disjoint rule
    plateaued at ~16), so a 32k-merge vocabulary is ~250 rounds of
    exactly this loop.  Same per-round plan as q_bpe_train_batched
    (one pair-count agg, one bounded pool collect, one fold-over-
    literal-array rewrite); same greedy-snapshot equivalence, pinned
    at 512 merges against the pure-Python reference in
    tests/test_properties.py.
    """
    return _bpe_train_batched_impl(spark, sf_dir, BPE_512_ROUNDS,
                                   BPE_512_TOPN, BPE_512_BATCH)


def q_bpe_apply_batched(spark, sf_dir):
    """Apply the batched-trained merges back to the corpus and report
    per-document token compression — the tokenize-with-trained-vocab
    step for the >=64-merge vocabulary (the apply face of
    q_bpe_train_batched, as bpe_apply_compression is of q_bpe_train).
    Training runs as in the trainer (bounded pool collects); the
    application itself is five fold-over-literal-array projections —
    row-local, zero shuffles, trivially streamable.  Integer token
    arithmetic, so the unrolled oracle's final corpus matches exactly.
    """
    # spread (r12): see _bpe_train_batched_impl
    base = (spread(load_table(spark, sf_dir, "documents")
                   .select("doc_id", "text"))
            .select("doc_id",
                    F.concat(F.lit(" "),
                             F.regexp_replace("text", " ", "  "),
                             F.lit(" ")).alias("s")))
    d = base
    for rnd in range(BPE_B_ROUNDS):
        toks = F.split(F.trim(F.col("s")), "  ")
        n = F.size(toks)
        pairs = d.select(F.explode(F.zip_with(
            F.slice(toks, 1, n - 1), F.slice(toks, 2, n - 1),
            lambda x, y: F.struct(x.alias("a"), y.alias("b")))).alias("p"))
        pool = (pairs.groupBy(F.col("p.a").alias("a"),
                              F.col("p.b").alias("b"))
                     .agg(F.count(F.lit(1)).alias("cnt"))
                     .orderBy(F.desc("cnt"), "a", "b")
                     .limit(BPE_B_TOPN).collect())
        used_l: set = set()
        used_r: set = set()
        batch = []
        for r in pool:
            if len(batch) >= BPE_B_BATCH:
                break
            if r.a in used_r or r.b in used_l or r.a == r.b:
                continue
            used_l.add(r.a)
            used_r.add(r.b)
            batch.append(r)
        if not batch:
            break
        d = d.select("doc_id", _bpe_rewrite_expr(batch).alias("s"))
        d = d.localCheckpoint(eager=False)
    n0 = F.size(F.split(F.trim(F.col("s0")), "  "))
    nf = F.size(F.split(F.trim(F.col("s")), "  "))
    return (d.join(base.select("doc_id", F.col("s").alias("s0")),
                   "doc_id")
             .select("doc_id",
                     n0.alias("n_tokens_before"),
                     nf.alias("n_tokens_after"),
                     F.round(nf.cast("double") / n0, 6).alias("ratio")))


UNIG_MAXP = 4     # max piece length (chars)
UNIG_V = 48       # multi-char candidate cap (top by corpus weight)
UNIG_ROUNDS = 3   # hard-EM rounds
UNIG_MAXW = 12    # word-length unroll bound shared with the oracle


def _unig_costs(vocab):
    """{piece: cost} in integer micro-nats, cost = round((ln(total) -
    ln(cnt)) * 1e6), through _ln_det_py — the pure-Python replica of
    the engines' _ln_det recurrence (bit-identical IEEE op order;
    floor(x*1e6 + 0.5) equals Spark/DuckDB round(x*1e6, 0) HALF_UP
    for these positive sub-2^52 magnitudes, verified value-for-value
    against the engine form on the v1k vocab).  Driver-side so each
    EM round skips a vocab-sized Spark job — the integers the Python
    DP compares stay bit-identical to what the DuckDB twin derives
    with _lit_duck (r10 verdict item 7)."""
    import math as _m

    from .text import _ln_det_py

    total = sum(c for _, c in vocab)
    lt = _ln_det_py(total)
    return {p: int(_m.floor((lt - _ln_det_py(c)) * 1e6 + 0.5))
            for p, c in vocab}


def _viterbi_kernel(costs):
    """Arrow-batched E-step: per distinct word the min-cost
    segmentation under the broadcast cost dict (integer adds and
    compares only; ties take the SMALLEST split point j, i.e. the
    longest final piece — the same total order the oracle's
    ROW_NUMBER() OVER (ORDER BY cost, j) applies)."""
    import pandas as pd

    def kernel(batches):
        for pdf in batches:
            op, ou = [], []
            for w, c in zip(pdf["w"], pdf["c"]):
                n = len(w)
                inf = 1 << 62
                dp = [0] + [inf] * n
                bj = [0] * (n + 1)
                for i in range(1, n + 1):
                    best, bestj = inf, 0
                    for j in range(max(0, i - UNIG_MAXP), i):
                        pc = costs.get(w[j:i])
                        if pc is None:
                            continue
                        cand = dp[j] + pc
                        if cand < best:
                            best, bestj = cand, j
                    dp[i], bj[i] = best, bestj
                i = n
                while i > 0:
                    j = bj[i]
                    op.append(w[j:i])
                    ou.append(int(c))
                    i = j
            yield pd.DataFrame({"piece": op, "usage": ou})
    return kernel


def q_unigram_lm_train(spark, sf_dir):
    """SentencePiece-style UNIGRAM-LM tokenizer trainer (Kudo, ACL'18)
    — the EM sibling of the BPE trainers (VERDICT r06 item 5): seed a
    capped candidate vocabulary from corpus substrings, then iterate
    hard-EM rounds where the E-step Viterbi-segments every distinct
    word under the current piece costs and the M-step re-estimates
    piece probabilities from segmentation usage, pruning multi-char
    pieces that fell out of use (single chars are never pruned —
    segmentability closure).

    Determinism: piece costs are integer micro-nats from the
    engine-evaluated _ln_det (round((ln total - ln cnt) * 1e6)); the
    DP is pure integer arithmetic with a fixed tie order (smallest
    split point), so every round — and therefore the whole training
    run — is bit-reproducible across engines, partitionings, and
    sessions.

    Scale: the E-step runs on the COMPACTED distinct-word relation
    (Heaps-sublinear in corpus size) as one Arrow mapInPandas pass
    with the capped vocabulary broadcast in the closure; per round the
    only other traffic is a vocab-sized partial+final agg and two
    bounded collects (|vocab| <= {v} + alphabet — the same bounded-
    iteration contract as the BPE trainers' top-{v} pools).  Nothing
    scales with document count except the one distinct-word agg.

    Output: the final vocabulary (piece, piece_len, cnt, cost_un) —
    cnt from the last M-step, cost in micro-nats.
    """.format(v=UNIG_V)
    _, vocab = _unigram_train(spark, sf_dir)
    return _unigram_vocab_df(spark, vocab)


def _unigram_vocab_df(spark, vocab):
    """vocab list -> (piece, piece_len, cnt, cost_un) DataFrame with
    engine-evaluated _ln_det costs."""
    from .text import _ln_det, _lit_spark
    total = sum(c for _, c in vocab)
    vdf = spark.createDataFrame(vocab, "piece string, cnt long")
    expr = (f"CAST(round(({_ln_det(str(total), _lit_spark)}"
            f" - {_ln_det('cnt', _lit_spark)}) * 1e6, 0) AS BIGINT)")
    return vdf.selectExpr("piece",
                          "CAST(length(piece) AS INT) AS piece_len",
                          "cnt", f"{expr} AS cost_un")


def q_unigram_lm_train_v1k(spark, sf_dir):
    """PRODUCTION-SHAPED unigram-LM training run (r07 verdict item 7)
    — what bpe_train_batched512 is to the 80-merge BPE toy: the SAME
    trainer loop (_unigram_train: engine-evaluated integer micro-nat
    costs, Arrow Viterbi E-step over the compacted distinct-word
    relation, prune + char-floor M-step) at a candidate cap of
    {v} multi-char pieces and {r} hard-EM rounds, on the CHUNKED word
    stream (_unigram_words: fixed {w}-char segments of each document,
    ~9.8k distinct words and ~1.5k candidate pieces at every SF — the
    workload where a production cap actually binds; the raw corpus
    vocabulary has only 204 multi-char pieces, so a 1k cap would be
    theater).

    Scale: identical round structure to the toy — per round one
    vocab-sized cost collect (<= {v} + alphabet rows), one Arrow
    mapInPandas pass over distinct words (Heaps-sublinear), one
    vocab-sized usage agg.  Nothing new scales with document count.

    Bit-reproducibility: same _ln_det integer costs, same smallest-j
    tie order — pinned merge-for-merge against the pure-Python
    replica in tests/test_properties.py.
    """.format(v=UNIG1K_V, r=UNIG1K_ROUNDS, w=UNIG_CHUNK_W)
    _, vocab = _unigram_train(spark, sf_dir, v=UNIG1K_V,
                              rounds=UNIG1K_ROUNDS, chunked=True)
    return _unigram_vocab_df(spark, vocab)


UNIG1K_V = 1024     # production-shaped candidate cap (binds: the
                    # chunked word stream has ~1.5k multi-char pieces)
UNIG1K_ROUNDS = 4   # one more hard-EM round than the toy
UNIG_CHUNK_W = UNIG_MAXW   # chunk width == the oracle unroll bound


def _unigram_words(spark, sf_dir, chunked: bool = False):
    """Distinct-word relation (w, c): unchunked, the corpus word counts
    of the bag of words (retrieval_index).  chunked=True re-segments each
    document into fixed {w}-char chunks of the space-joined text
    (spaces -> '_', chunks cross word boundaries) — a DETERMINISTIC
    richer word stream (~9.8k distinct words / ~1.5k multi-char
    candidate pieces at every SF vs the raw corpus's 31/204), the
    workload that makes a production-sized candidate cap actually
    bind.  Both engines derive it with the same expressions."""
    if not chunked:
        return (index_for(spark, sf_dir).bag.df
                .select(F.col("word").alias("w"), F.col("cf").alias("c")))
    W = UNIG_CHUNK_W
    return (load_table(spark, sf_dir, "documents")
            .filter(F.length("text") > 0)
            .selectExpr("replace(text, ' ', '_') AS b")
            .selectExpr(
                f"explode(transform(sequence(1,"
                f" CAST((length(b) + {W - 1}) DIV {W} AS INT)),"
                f" i -> substring(b, (i-1)*{W} + 1, {W}))) AS w")
            .groupBy("w").agg(F.count(F.lit(1)).alias("c")))


_unigram_words.__doc__ = _unigram_words.__doc__.replace(
    "{w}", str(UNIG_CHUNK_W))


def _unigram_train(spark, sf_dir, v: int = UNIG_V,
                   rounds: int = UNIG_ROUNDS, chunked: bool = False):
    """The trainer loop (seed + hard-EM rounds); returns
    (distinct-word DataFrame, final vocab list).

    The chunked distinct-word relation is persisted across the EM
    rounds (r10 verdict item 7): it feeds the unroll guard, the
    candidate seeding, and every round's Viterbi pass — without the
    cache each pass re-runs the chunk-explode + distinct agg against
    the corpus scan (rounds+2 redundant corpus passes; the relation
    itself is Heaps-sublinear and fits executor storage by
    construction).  Unpersisted before return — downstream consumers
    re-derive it lazily.  (Unchunked, it is the bag of words' held df.)"""
    # (r12: spread()ing this relation to engine parallelism was A/B'd
    # and REGRESSED — 31-9.8k distinct words over 32 round-robin
    # partitions is pure task overhead per EM round; kept at the
    # data-sized shuffle partitioning.)
    dw = _unigram_words(spark, sf_dir, chunked)
    if chunked:
        dw = dw.persist()
    # Loud unroll-bound guard (r07 ADVICE item 1): UNIG_MAXW bounds the
    # ORACLE's unrolled DP only — the Spark kernels are unbounded — so
    # a corpus word longer than the bound would silently vanish from
    # the oracle's usage counts and the apply/mixture inner joins.
    # Fail the query explicitly instead (one cheap agg; the driver
    # records an honest `err`, never a silent divergence).
    maxw = dw.agg(F.max(F.length("w"))).collect()[0][0] or 0
    if maxw > UNIG_MAXW:
        raise ValueError(
            f"corpus max word length {maxw} exceeds UNIG_MAXW="
            f"{UNIG_MAXW}; raise the oracle unroll bound before "
            "training on this corpus")
    cand = (dw
            .select("w", "c",
                    F.explode(F.sequence(F.lit(1), F.length("w")))
                     .alias("s"))
            .select("w", "c", "s",
                    F.explode(F.sequence(
                        F.lit(1),
                        F.least(F.lit(UNIG_MAXP),
                                F.length("w") - F.col("s") + 1)))
                     .alias("l"))
            .selectExpr("substring(w, s, l) AS piece", "c")
            .groupBy("piece").agg(F.sum("c").alias("cnt")))
    multi = (cand.filter(F.length("piece") > 1)
                 .orderBy(F.desc("cnt"), "piece").limit(v))
    chars = cand.filter(F.length("piece") == 1)
    vocab = ([(r.piece, r.cnt) for r in multi.collect()]
             + [(r.piece, r.cnt) for r in chars.collect()])
    for _ in range(rounds):
        costs = _unig_costs(vocab)
        usage = {r.piece: r.usage for r in
                 (dw.select("w", "c")
                       .mapInPandas(_viterbi_kernel(costs),
                                    "piece string, usage long")
                       .groupBy("piece")
                       .agg(F.sum("usage").alias("usage"))).collect()}
        vocab = ([(p, usage[p]) for (p, _) in vocab
                  if len(p) > 1 and usage.get(p, 0) > 0]
                 + [(p, max(usage.get(p, 0), 1)) for (p, _) in vocab
                    if len(p) == 1])
    if chunked:
        dw.unpersist()
    return dw, vocab


def _viterbi_len_kernel(costs):
    """Arrow-batched apply: per distinct word the PIECE COUNT and the
    total min COST (micro-nats) of its segmentation under the final
    costs (same DP and smallest-split tie order as training, so both
    follow the same argmin chain the oracle's carried columns
    reproduce).  The empty word (the token of empty text) has no
    segmentation, as in the oracle's DP, so it gets no row."""
    import pandas as pd

    def kernel(batches):
        for pdf in batches:
            ws, ns, cs = [], [], []
            for w in pdf["w"]:
                n = len(w)
                if not n:
                    continue
                inf = 1 << 62
                dp = [0] + [inf] * n
                bj = [0] * (n + 1)
                for i in range(1, n + 1):
                    best, bestj = inf, 0
                    for j in range(max(0, i - UNIG_MAXP), i):
                        pc = costs.get(w[j:i])
                        if pc is None:
                            continue
                        if dp[j] + pc < best:
                            best, bestj = dp[j] + pc, j
                    dp[i], bj[i] = best, bestj
                i, np_ = n, 0
                while i > 0:
                    np_ += 1
                    i = bj[i]
                ws.append(w)
                ns.append(np_)
                cs.append(dp[n])
            yield pd.DataFrame({"w": ws, "n_pieces": ns,
                                "cost_un": cs})
    return kernel


def q_unigram_lm_apply(spark, sf_dir):
    """Tokenize-with-trained-vocab for the unigram LM (the apply face
    of q_unigram_lm_train, as bpe_apply_batched is of the batched BPE
    trainer): train, Viterbi-segment every DISTINCT word once under
    the final costs, and report per-document piece accounting —
    words, pieces, and pieces-per-word in exact integer ppm.

    Scale: the expensive part (the DP) runs once per DISTINCT word
    (Heaps-compacted), not per occurrence; the bag of words' (doc,
    word, tf) counts then join the tiny word -> piece-count relation
    — one keyed join + one doc agg, no payload ever reaches the DP.
    """
    dw, vocab = _unigram_train(spark, sf_dir)
    costs = _unig_costs(vocab)
    wp = (dw.select("w")
               .mapInPandas(_viterbi_len_kernel(costs),
                            "w string, n_pieces int, cost_un long")
               .select("w", "n_pieces"))
    toks = (index_for(spark, sf_dir).bag.tf
            .select("doc_id", F.col("word").alias("w"), "tf"))
    return (toks.join(wp, "w")
                .groupBy("doc_id")
                .agg(F.sum("tf").alias("n_words"),
                     F.sum(F.col("tf") * F.col("n_pieces"))
                      .alias("n_pieces"))
                .selectExpr("doc_id", "n_words",
                            "CAST(n_pieces AS BIGINT) AS n_pieces",
                            "CAST(n_pieces * 1000000 DIV n_words"
                            " AS BIGINT) AS pieces_per_word_ppm"))


def q_corpus_domain_mixture(spark, sf_dir):
    """Data-mixing weights per SOURCE domain from language-model
    difficulty (the deterministic skeleton of DoReMi-style domain
    reweighting, Xie et al. 2023: upweight the domains the current
    model finds hard): train the unigram LM, score every distinct
    word's min segmentation cost (micro-nats), aggregate per source
    to mean-cost-per-word, and emit difficulty-proportional mixture
    weights — all exact integer arithmetic end to end (difficulty =
    DIV of micro-nat sums; weight_ppm = difficulty x 1e6 DIV the
    cross-domain difficulty total), so the mixture is bit-reproducible
    and fully value-oracled.  A production DoReMi iterates this with
    a real reference model; the Spark shape — score row-locally on
    the compacted word relation, join, one domain agg, one broadcast
    total — is identical.

    Scale: the DP runs once per DISTINCT word; documents contribute
    one explode + one keyed join; domains are a ~|sources|-row
    relation, so the mixture math is metadata-sized.
    """
    dw, vocab = _unigram_train(spark, sf_dir)
    costs = _unig_costs(vocab)
    wp = (dw.select("w")
               .mapInPandas(_viterbi_len_kernel(costs),
                            "w string, n_pieces int, cost_un long")
               .select("w", "cost_un"))
    d = load_table(spark, sf_dir, "documents")
    toks = d.select("source", F.explode(words()).alias("w"))
    # the total and the final projection share this aggregate's exchange
    per = (toks.join(wp, "w")
               .groupBy("source")
               .agg(F.count(F.lit(1)).alias("n_words"),
                    F.sum("cost_un").alias("sum_cost_un"))
               .selectExpr("source", "n_words", "sum_cost_un",
                           "CAST(sum_cost_un DIV n_words AS BIGINT)"
                           " AS difficulty_ppw"))
    tot = per.agg(F.sum("difficulty_ppw").alias("t"))
    return (per.crossJoin(F.broadcast(tot))
               .selectExpr("source", "n_words", "sum_cost_un",
                           "difficulty_ppw",
                           "CAST(difficulty_ppw * 1000000 DIV t"
                           " AS BIGINT) AS mixture_ppm"))


EPOCHS = 4                 # training epochs in the mixing schedule
EPOCH_TOKENS = 100_000     # token budget allocated per epoch


def q_curation_epoch_schedule(spark, sf_dir):
    """EPOCH-ANNEALED data-mixing SCHEDULE — the artifact a training
    run actually consumes downstream of DoReMi weights: per (epoch,
    source), a token allocation that anneals LINEARLY from the natural
    corpus distribution (epoch 0 — early training wants in-distribution
    data) to the difficulty-reweighted target mixture (epoch {E1} —
    the corpus_domain_mixture weights), with each epoch's {B}-token
    budget apportioned exactly by largest remainder (Σ alloc == {B}
    per epoch, no floor dust — the sample_neyman_allocation recipe).

    All integer: the interpolated weight is a single positive-
    numerator DIV ((mix*e + nat*({E1}-e)) DIV {E1} — truncation ==
    floor, no negative-DIV engine divergence), products are widened to
    DECIMAL(38,0)/HUGEINT, and the remainder rank orders a
    |sources|x{E}-row relation — metadata-sized at any corpus scale.

    Output: (epoch, source, natural_ppm, mixture_ppm, w_ppm,
    alloc_tokens).
    """.format(E=EPOCHS, E1=EPOCHS - 1, B=EPOCH_TOKENS)
    mix = q_corpus_domain_mixture(spark, sf_dir).select(
        "source", "n_words", "mixture_ppm")
    tot = mix.agg(F.sum("n_words").alias("nw_all"))
    base = (mix.crossJoin(F.broadcast(tot))
            .withColumn("natural_ppm", F.expr(
                "CAST(CAST(n_words AS DECIMAL(38,0)) * 1000000"
                " DIV nw_all AS BIGINT)")))
    ep = spark.range(EPOCHS).select(F.col("id").cast("int")
                                    .alias("epoch"))
    sched = (base.crossJoin(F.broadcast(ep))
             .withColumn("w_ppm", F.expr(
                 f"CAST((CAST(mixture_ppm AS DECIMAL(38,0)) * epoch"
                 f" + CAST(natural_ppm AS DECIMAL(38,0))"
                 f" * ({EPOCHS - 1} - epoch))"
                 f" DIV {EPOCHS - 1} AS BIGINT)")))
    tw = sched.groupBy("epoch").agg(F.sum("w_ppm").alias("tw"))
    j = (sched.join(tw, "epoch")
         .withColumn("bse", F.expr(
             f"CAST(CAST(w_ppm AS DECIMAL(38,0)) * {EPOCH_TOKENS}"
             f" DIV tw AS BIGINT)"))
         .withColumn("rem", F.expr(
             f"(CAST(w_ppm AS DECIMAL(38,0)) * {EPOCH_TOKENS}) % tw")))
    used = j.groupBy("epoch").agg(F.sum("bse").alias("used"))
    rk = F.row_number().over(
        W.partitionBy("epoch").orderBy(F.col("rem").desc(), "source"))
    return (j.join(used, "epoch")
            .withColumn("rk", rk)
            .select("epoch", "source", "natural_ppm", "mixture_ppm",
                    "w_ppm",
                    (F.col("bse")
                     + (F.col("rk") <= EPOCH_TOKENS - F.col("used"))
                     .cast("long")).alias("alloc_tokens")))


DOREMI_ROUNDS = 5          # multiplicative-weights iterations
DOREMI_ETA_PPM = 500_000   # step size eta = 0.5 in ppm


def q_domain_mixture_mw(spark, sf_dir):
    """ITERATED DoReMi-style domain reweighting (multiplicative
    weights over excess LM loss — Xie et al. 2023, the iteration the
    one-step corpus_domain_mixture skeleton lacks), with a
    REFERENCE-MODEL PROXY pair the engine already maintains: the
    corpus unigram LM (text_unigram_lm_score's model) as the
    reference and the Jelinek-Mercer bigram LM
    (text_bigram_lm_score's model) as the stronger "current" model.
    Per source the EXCESS loss is the per-token cost gap
    max(unigram_cost - bigram_cost, 0) in integer micro-nats — the
    learnability headroom DoReMi upweights — and the domain weights
    follow {t} multiplicative-weights rounds
    w <- normalize(w * (1 + eta * excess_norm)) with eta = {e} ppm,
    all in exact integer ppm arithmetic (DIV), so the whole
    trajectory is bit-reproducible and fully value-oracled.

    Scale: the two LM cost relations are the operators' own shapes
    (corpus counts from the bag of words, models broadcast); after
    the per-source agg everything is a |sources|-row relation, so the
    {t} unrolled rounds are metadata-sized plan stages (a production
    DoReMi swaps the proxy pair for real model losses; the mixture
    math is identical).

    Output: the full trajectory (round 0..{t}) of
    (round, source, excess_ppw, weight_ppm).
    """.format(t=DOREMI_ROUNDS, e=DOREMI_ETA_PPM)
    from .text import _bigrams, _lit_spark, _ln_det

    d = load_table(spark, sf_dir, "documents")
    bag = index_for(spark, sf_dir).bag
    logp_u = (f"CAST(round(({_ln_det('cf', _lit_spark)}"
              f" - {_ln_det('total_words', _lit_spark)}) * 1e6, 0)"
              f" AS BIGINT)")
    umodel = (bag.df.select("word", "cf", *bag.scalars())
              .selectExpr("word", f"{logp_u} AS logp_u"))
    stok = d.select("source", F.explode(words()).alias("word"))
    uper = (stok.join(F.broadcast(umodel), "word")
                .groupBy("source")
                .agg(F.count(F.lit(1)).alias("n_tokens"),
                     F.sum("logp_u").alias("sum_u")))
    # the model and the scoring share this aggregate's exchange
    bg = (_bigrams(d, "source").groupBy("source", "prev", "word")
          .agg(F.count(F.lit(1)).alias("n")))
    uni = bag.df.select("word", F.col("cf").alias("c"))
    bi = bg.groupBy("prev", "word").agg(F.sum("n").alias("c_ab"))
    logp_bi = (f"CAST(round(({_ln_det('(c_ab * N + c_a * c_b)', _lit_spark)}"
               f" - {_ln_det('(2 * c_a * N)', _lit_spark)}) * 1e6, 0)"
               f" AS BIGINT)")
    bmodel = (bi.join(uni.select(F.col("word").alias("prev"),
                                 F.col("c").alias("c_a")), "prev")
                .join(uni.select("word", F.col("c").alias("c_b")), "word")
                .withColumn("N", F.lit(bag.total_words).cast("long"))
                .selectExpr("prev", "word", f"{logp_bi} AS logp_bi"))
    bper = (bg.join(F.broadcast(bmodel), ["prev", "word"])
              .groupBy("source")
              .agg(F.sum("n").alias("n_bigrams"),
                   F.sum(F.col("n") * F.col("logp_bi")).alias("sum_b")))
    per = (uper.join(bper, "source")
               .selectExpr("source",
                           "(-sum_u) DIV n_tokens AS unig_cost_ppw",
                           "(-sum_b) DIV n_bigrams AS big_cost_ppw")
               .selectExpr("source",
                           "greatest(unig_cost_ppw - big_cost_ppw,"
                           " CAST(0 AS BIGINT)) AS excess_ppw"))
    # After the per-source agg the whole MW state is |sources|
    # integers — collected once and iterated driver-side (the BPE
    # trainers' bounded-collect contract); every step is exact
    # integer ppm arithmetic, bit-identical to the oracle's unrolled
    # SQL rounds, and the result ships back as a literal relation.
    base = sorted((r.source, r.excess_ppw) for r in per.collect())
    k = len(base)
    # Loud precondition (review finding): the per-source join is INNER
    # on the bigram stats, so a source whose every document is a
    # single word would silently vanish from the mixture (and from
    # the oracle identically — an invisible omission).  Fail
    # explicitly instead; a real reweighter must see every domain.
    n_sources = d.select("source").distinct().count()
    if k != n_sources:
        raise ValueError(
            f"domain_mixture_mw: only {k} of {n_sources} sources have "
            "bigram statistics — a single-word-document domain cannot "
            "be scored by the bigram proxy; fix the corpus or the "
            "proxy before mixing")
    te = sum(e for _, e in base)
    enorm = {s: e * 1_000_000 // max(te, 1) for s, e in base}
    wgt = {s: 1_000_000 // k for s, _ in base}
    traj = [(0, s, e, wgt[s]) for s, e in base]
    for t in range(1, DOREMI_ROUNDS + 1):
        stepped = {s: (wgt[s] * (1_000_000
                                 + (DOREMI_ETA_PPM * enorm[s])
                                 // 1_000_000)) // 1_000_000
                   for s, _ in base}
        sw = sum(stepped.values())
        wgt = {s: stepped[s] * 1_000_000 // sw for s, _ in base}
        traj.extend((t, s, e, wgt[s]) for s, e in base)
    return spark.createDataFrame(
        traj, "round int, source string, excess_ppw long,"
              " weight_ppm long")


def _doremi_oracle_sql() -> str:
    """DuckDB twin of q_domain_mixture_mw: the two LM-model CTE chains
    (verbatim from the text family's oracles), per-source cost gaps,
    and the unrolled multiplicative-weights rounds."""
    from .text import _lit_duck, _ln_det

    rounds = []
    prev = "w0"
    for t in range(1, DOREMI_ROUNDS + 1):
        rounds.append(f""",
w{t}s AS (SELECT source, excess_ppw, exc_norm_ppm,
                 (w * (1000000 + ({DOREMI_ETA_PPM} * exc_norm_ppm)
                       // 1000000)) // 1000000 AS w
          FROM {prev}),
w{t} AS (SELECT source, excess_ppw, exc_norm_ppm,
                w * 1000000 // (SELECT SUM(w) FROM w{t}s) AS w
         FROM w{t}s)""")
        prev = f"w{t}"
    finals = "\n        UNION ALL ".join(
        f"SELECT {t} AS round, source, excess_ppw,"
        f" w::BIGINT AS weight_ppm FROM w{t}"
        for t in range(0, DOREMI_ROUNDS + 1))
    return f"""
        WITH words AS MATERIALIZED (SELECT unnest(string_split(text, ' ')) AS word
                       FROM documents),
        t AS (SELECT COUNT(*) AS total FROM words),
        counts AS MATERIALIZED (SELECT word, COUNT(*) AS cnt FROM words GROUP BY 1),
        umodel AS MATERIALIZED (
            SELECT word,
                   CAST(ROUND(({_ln_det('cnt', _lit_duck)}
                               - {_ln_det('total', _lit_duck)}) * 1e6, 0)
                        AS BIGINT) AS logp_u
            FROM counts CROSS JOIN t),
        stok AS MATERIALIZED (SELECT source, unnest(string_split(text, ' ')) AS word
                 FROM documents),
        uper AS MATERIALIZED (SELECT source, COUNT(*) AS n_tokens,
                        SUM(logp_u)::BIGINT AS sum_u
                 FROM stok JOIN umodel USING (word) GROUP BY 1),
        d2 AS MATERIALIZED (SELECT source, string_split(text, ' ') AS w
               FROM documents),
        bg AS MATERIALIZED (SELECT source, w[i] AS prev, w[i + 1] AS word
               FROM d2, unnest(generate_series(1,
                                greatest(len(w) - 1, 0))) AS t2(i)),
        uni AS MATERIALIZED (SELECT word, COUNT(*) AS c FROM words GROUP BY 1),
        tot AS (SELECT COUNT(*) AS N FROM words),
        bi AS MATERIALIZED (SELECT prev, word, COUNT(*) AS c_ab
               FROM bg GROUP BY 1, 2),
        bmodel AS MATERIALIZED (
            SELECT bi.prev, bi.word,
                   CAST(ROUND(({_ln_det('(c_ab * N + c_a * c_b)',
                                        _lit_duck)}
                               - {_ln_det('(2 * c_a * N)', _lit_duck)})
                              * 1e6, 0) AS BIGINT) AS logp_bi
            FROM bi
            JOIN (SELECT word AS prev, c AS c_a FROM uni) ua USING (prev)
            JOIN (SELECT word, c AS c_b FROM uni) ub USING (word)
            CROSS JOIN tot),
        bper AS MATERIALIZED (SELECT source, COUNT(*) AS n_bigrams,
                        SUM(logp_bi)::BIGINT AS sum_b
                 FROM bg JOIN bmodel USING (prev, word) GROUP BY 1),
        per AS MATERIALIZED (SELECT source,
                       greatest(((-sum_u) // n_tokens)
                                - ((-sum_b) // n_bigrams),
                                0)::BIGINT AS excess_ppw
                FROM uper JOIN bper USING (source)),
        te AS (SELECT SUM(excess_ppw)::BIGINT AS te,
                      COUNT(*)::BIGINT AS k FROM per),
        w0 AS (SELECT source, excess_ppw,
                      excess_ppw * 1000000 // greatest(te, 1)
                          AS exc_norm_ppm,
                      (1000000 // k)::BIGINT AS w
               FROM per, te){''.join(rounds)}
        {finals}
    """


def _unigram_oracle_sql(apply: bool = False,
                        mixture: bool = False,
                        v: int = UNIG_V,
                        rounds: int = UNIG_ROUNDS,
                        chunked: bool = False,
                        mixture_cte: bool = False) -> str:
    """Unrolled DuckDB twin of q_unigram_lm_train: candidate seeding +
    cap, then per EM round an UNROLLED Viterbi (dp stage per char
    position up to UNIG_MAXW, ROW_NUMBER tie-break on (cost, j)), an
    unrolled backtrace, the usage agg, and the prune/char-floor
    M-step.  MATERIALIZED CTEs keep the many-stage plan linear.
    With apply=True, one more unrolled DP under the FINAL costs
    carries the argmin chain's PIECE COUNT (np) per distinct word,
    and the result is the per-document piece accounting
    (q_unigram_lm_apply's twin)."""
    from .text import _ln_det, _lit_duck

    L, P, R = UNIG_MAXW, UNIG_MAXP, rounds
    ln = _ln_det
    if not chunked:
        words_src = "SELECT unnest(string_split(text, ' ')) AS w" \
                    " FROM documents"
    else:
        W = UNIG_CHUNK_W
        words_src = (
            f"SELECT unnest(list_transform("
            f"generate_series(1, (len(b) + {W - 1}) // {W}),"
            f" i -> substr(b, (i-1)*{W} + 1, {W}))) AS w"
            f" FROM (SELECT replace(text, ' ', '_') AS b"
            f" FROM documents WHERE len(text) > 0)")
    q = [f"""
WITH words AS MATERIALIZED (
  SELECT w, COUNT(*)::BIGINT AS c FROM (
    {words_src})
  GROUP BY 1),
cand AS MATERIALIZED (
  SELECT substr(w, s, l) AS piece, SUM(c)::BIGINT AS cnt
  FROM words,
       unnest(generate_series(1, len(w))) AS ts(s),
       unnest(generate_series(1, {P})) AS tl(l)
  WHERE s + l - 1 <= len(w)
  GROUP BY 1),
chars AS MATERIALIZED (
  SELECT piece, cnt FROM cand WHERE len(piece) = 1),
v0 AS MATERIALIZED (
  SELECT piece, cnt FROM (
    SELECT piece, cnt FROM cand WHERE len(piece) > 1
    ORDER BY cnt DESC, piece LIMIT {v})
  UNION ALL SELECT piece, cnt FROM chars)"""]
    for r in range(R + 1):
        q.append(f""",
cost{r} AS MATERIALIZED (
  SELECT piece, cnt,
         CAST(round(({ln('t.t', _lit_duck)} - {ln('cnt', _lit_duck)})
              * 1e6, 0) AS BIGINT) AS cost
  FROM v{r}, (SELECT SUM(cnt)::BIGINT AS t FROM v{r}) t)""")
        if r == R:
            break
        rr = r + 1
        q.append(f""",
dp{rr}_0 AS MATERIALIZED (
  SELECT w, c, CAST(0 AS BIGINT) AS cost, 0 AS j FROM words)""")
        for i in range(1, L + 1):
            opts = "\n      UNION ALL\n      ".join(
                f"""SELECT p.w, p.c, p.cost + ct.cost AS cost, {j} AS j
      FROM dp{rr}_{j} p JOIN cost{r} ct
        ON ct.piece = substr(p.w, {j + 1}, {i - j})
      WHERE len(p.w) >= {i}"""
                for j in range(max(0, i - P), i))
            q.append(f""",
dp{rr}_{i} AS MATERIALIZED (
  SELECT w, c, cost, j FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY w ORDER BY cost, j)
           AS rn
    FROM ({opts})) WHERE rn = 1)""")
        dpall = "\n    UNION ALL\n    ".join(
            f"SELECT w, c, cost, j, {i} AS i FROM dp{rr}_{i}"
            for i in range(1, L + 1))
        q.append(f""",
dpall{rr} AS MATERIALIZED (
    {dpall}),
bt{rr}_0 AS MATERIALIZED (SELECT w, c, len(w) AS i FROM words)""")
        for k in range(L):
            q.append(f""",
pc{rr}_{k} AS MATERIALIZED (
  SELECT b.w, b.c, substr(b.w, d.j + 1, b.i - d.j) AS piece,
         d.j AS ni
  FROM bt{rr}_{k} b JOIN dpall{rr} d ON d.w = b.w AND d.i = b.i
  WHERE b.i > 0),
bt{rr}_{k + 1} AS MATERIALIZED (
  SELECT w, c, ni AS i FROM pc{rr}_{k})""")
        pieces = "\n    UNION ALL\n    ".join(
            f"SELECT piece, c FROM pc{rr}_{k}" for k in range(L))
        q.append(f""",
usage{rr} AS MATERIALIZED (
  SELECT piece, SUM(c)::BIGINT AS usage FROM (
    {pieces}) GROUP BY 1),
v{rr} AS MATERIALIZED (
  SELECT piece, usage AS cnt FROM usage{rr} WHERE len(piece) > 1
  UNION ALL
  SELECT ch.piece,
         GREATEST(COALESCE(u.usage, 0), CAST(1 AS BIGINT)) AS cnt
  FROM chars ch LEFT JOIN usage{rr} u USING (piece))""")
    if not apply and not mixture:
        q.append(f"""
SELECT piece, CAST(len(piece) AS INT) AS piece_len, cnt,
       cost AS cost_un
FROM cost{R}""")
        return "".join(q)
    q.append(""",
dpa_0 AS MATERIALIZED (
  SELECT w, CAST(0 AS BIGINT) AS cost, 0 AS np FROM words)""")
    for i in range(1, L + 1):
        opts = "\n      UNION ALL\n      ".join(
            f"""SELECT p.w, p.cost + ct.cost AS cost, p.np + 1 AS np,
             {j} AS j
      FROM dpa_{j} p JOIN cost{R} ct
        ON ct.piece = substr(p.w, {j + 1}, {i - j})
      WHERE len(p.w) >= {i}"""
            for j in range(max(0, i - P), i))
        q.append(f""",
dpa_{i} AS MATERIALIZED (
  SELECT w, cost, np FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY w ORDER BY cost, j)
           AS rn
    FROM ({opts})) WHERE rn = 1)""")
    dpalla = "\n    UNION ALL\n    ".join(
        f"SELECT w, np, cost, {i} AS i FROM dpa_{i}"
        for i in range(1, L + 1))
    q.append(f""",
dpalla AS MATERIALIZED (
    {dpalla}),
wp AS MATERIALIZED (
  SELECT d.w, d.np, d.cost
  FROM dpalla d JOIN (SELECT DISTINCT w, len(w) AS lw FROM words) x
    ON x.w = d.w AND d.i = x.lw)""")
    if mixture:
        q.append(""",
dt AS (SELECT source, unnest(string_split(text, ' ')) AS w
       FROM documents),
per AS (
  SELECT source, COUNT(*)::BIGINT AS n_words,
         SUM(cost)::BIGINT AS sum_cost_un
  FROM dt JOIN wp USING (w) GROUP BY 1),
per2 AS (
  SELECT source, n_words, sum_cost_un,
         CAST(sum_cost_un::HUGEINT // n_words::HUGEINT AS BIGINT)
             AS difficulty_ppw
  FROM per),
tot AS (SELECT SUM(difficulty_ppw)::HUGEINT AS t FROM per2)""")
        mix_sel = """SELECT source, n_words, sum_cost_un, difficulty_ppw,
       CAST(difficulty_ppw::HUGEINT * 1000000 // t AS BIGINT)
           AS mixture_ppm
FROM per2 CROSS JOIN tot"""
        if mixture_cte:
            # Splice mode (the composing oracles): the trainer chain's
            # CTE list continues at the SAME top level and the mixture
            # result lands in a small MATERIALIZED `mix` — nesting the
            # whole chain as a derived table instead measurably
            # disables DuckDB's pushdown through it (~2.5x the wall,
            # r09 verdict's oracle-sweep-tax item).
            q.append(f",\nmix AS MATERIALIZED ({mix_sel})")
        else:
            q.append("\n" + mix_sel)
        return "".join(q)
    q.append(""",
dt AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w
       FROM documents)
SELECT doc_id, COUNT(*)::BIGINT AS n_words,
       SUM(np)::BIGINT AS n_pieces,
       CAST(SUM(np)::HUGEINT * 1000000 // COUNT(*)::HUGEINT AS BIGINT)
           AS pieces_per_word_ppm
FROM dt JOIN wp USING (w) GROUP BY doc_id""")
    return "".join(q)


def _bpe_batched_oracle_sql(rounds: int = BPE_B_ROUNDS,
                            topn: int = BPE_B_TOPN,
                            batch: int = BPE_B_BATCH) -> str:
    """Unrolled DuckDB mirror of the batched trainer: per round a pair
    count, a ranked pool, the greedy NON-CHAINING walk as a recursive
    CTE carrying the used-LEFT and used-RIGHT symbol lists, and the
    batch rewrite as a second recursive CTE that applies one accepted
    merge's replace per step (a nested replace chain hits DuckDB's
    128-deep binder recursion cap at production batch sizes)."""
    parts = ["WITH RECURSIVE d0 AS MATERIALIZED (SELECT doc_id,"
             " ' ' || replace(text, ' ', '  ') || ' ' AS s"
             " FROM documents)"]
    for i in range(rounds):
        parts.append(f"""
        , p{i} AS MATERIALIZED (
            SELECT seq[j] AS a, seq[j + 1] AS b, COUNT(*)::BIGINT AS cnt
            FROM (SELECT string_split(trim(s, ' '), '  ') AS seq
                  FROM d{i}),
                 unnest(generate_series(1, greatest(len(seq) - 1, 0)))
                     AS u(j)
            GROUP BY 1, 2)
        , top{i} AS MATERIALIZED (
            SELECT ROW_NUMBER() OVER (ORDER BY cnt DESC, a, b) AS rk,
                   a, b, cnt
            FROM p{i} QUALIFY rk <= {topn})
        , sel{i} AS (
            SELECT 0 AS rk, CAST([] AS VARCHAR[]) AS ul,
                   CAST([] AS VARCHAR[]) AS ur,
                   CAST(NULL AS VARCHAR) AS a, CAST(NULL AS VARCHAR) AS b,
                   CAST(NULL AS BIGINT) AS cnt, 0 AS n_acc
            UNION ALL
            SELECT t.rk,
                   CASE WHEN c.ok THEN list_append(s.ul, t.a)
                        ELSE s.ul END,
                   CASE WHEN c.ok THEN list_append(s.ur, t.b)
                        ELSE s.ur END,
                   CASE WHEN c.ok THEN t.a END,
                   CASE WHEN c.ok THEN t.b END,
                   CASE WHEN c.ok THEN t.cnt END,
                   s.n_acc + CASE WHEN c.ok THEN 1 ELSE 0 END
            FROM sel{i} s JOIN top{i} t ON t.rk = s.rk + 1,
                 LATERAL (SELECT NOT list_contains(s.ur, t.a)
                             AND NOT list_contains(s.ul, t.b)
                             AND t.a != t.b AS ok) c
            WHERE s.n_acc < {batch})
        , acc{i} AS MATERIALIZED (
            SELECT a, b, cnt,
                   CAST(ROW_NUMBER() OVER (ORDER BY rk) AS INT) AS bid
            FROM sel{i} WHERE a IS NOT NULL)""")
        parts.append(f"""
        , rw{i} AS (
            SELECT doc_id, s, 0 AS k FROM d{i}
            UNION ALL
            SELECT r.doc_id,
                   replace(r.s, ' ' || a.a || '  ' || a.b || ' ',
                           ' ' || a.a || '_' || a.b || ' '),
                   r.k + 1
            FROM rw{i} r JOIN acc{i} a ON a.bid = r.k + 1)
        , d{i + 1} AS MATERIALIZED (
            SELECT doc_id, s FROM rw{i}
            WHERE k = COALESCE((SELECT MAX(bid) FROM acc{i}), 0))""")
    selects = " UNION ALL ".join(
        f"SELECT {i} AS round, bid, a, b, a || '_' || b AS merged, cnt"
        f" FROM acc{i}" for i in range(rounds))
    return ("".join(parts)
            + f""" SELECT CAST(ROW_NUMBER() OVER (ORDER BY round, bid)
                          - 1 AS INT) AS merge_id,
                      round, bid, a, b, merged, cnt
               FROM ({selects})""")


def q_bpe_apply(spark, sf_dir):
    """Apply the 8 learned BPE merges back to the corpus and report
    per-document token compression — the tokenize-with-trained-vocab
    step that follows training (and the measurement a tokenizer recipe
    reports: sequence-length reduction).

    Training runs as in q_bpe_train (bounded 1-row collects); the
    application is 8 chained literal replaces — a row-local projection,
    zero shuffles, trivially streamable.  n_tokens arithmetic is
    integer, so the oracle (the same unrolled pipeline's final corpus)
    matches exactly.
    """
    # spread (r12): the single-split fixture scan ran every round's
    # corpus-wide pair count in ONE task (guide §2.5); gated no-op on
    # a real multi-split corpus
    d = (spread(load_table(spark, sf_dir, "documents")
                .select("doc_id", "text"))
         .select("doc_id",
                 F.concat(F.lit(" "),
                          F.regexp_replace("text", " ", "  "),
                          F.lit(" ")).alias("s")))
    cur = d
    for step in range(BPE_STEPS):
        toks = F.split(F.trim(F.col("s")), "  ")
        n = F.size(toks)
        pairs = cur.select(F.explode(F.zip_with(
            F.slice(toks, 1, n - 1), F.slice(toks, 2, n - 1),
            lambda x, y: F.struct(x.alias("a"), y.alias("b")))).alias("p"))
        top = (pairs.groupBy(F.col("p.a").alias("a"), F.col("p.b").alias("b"))
                    .agg(F.count(F.lit(1)).alias("cnt"))
                    .orderBy(F.desc("cnt"), "a", "b").limit(1).collect())[0]
        cur = cur.select(
            "doc_id",
            F.replace(F.col("s"),
                      F.lit(f" {top.a}  {top.b} "),
                      F.lit(f" {top.a}_{top.b} ")).alias("s"))
        cur = cur.localCheckpoint(eager=False)
    n0 = F.size(F.split(F.trim(F.col("s0")), "  "))
    n8 = F.size(F.split(F.trim(F.col("s")), "  "))
    return (cur.join(d.select("doc_id", F.col("s").alias("s0")), "doc_id")
               .select("doc_id",
                       n0.alias("n_tokens_before"),
                       n8.alias("n_tokens_after"),
                       F.round(n8.cast("double") / n0, 6).alias("ratio")))


# ------------------------------------------------------------------
# End-to-end pretraining-corpus pipeline (capstone composition)
# ------------------------------------------------------------------


def _bpe_apply_batched_oracle_sql() -> str:
    """The batched pipeline's final corpus, reported as per-document
    token accounting (the _bpe_apply_oracle_sql twin)."""
    body = _bpe_batched_oracle_sql()
    prefix = body[:body.rindex(" SELECT CAST(ROW_NUMBER()")]
    return prefix + f"""
        SELECT d0.doc_id,
               len(string_split(trim(d0.s, ' '), '  '))
                   AS n_tokens_before,
               len(string_split(trim(d{BPE_B_ROUNDS}.s, ' '), '  '))
                   AS n_tokens_after,
               ROUND(len(string_split(trim(d{BPE_B_ROUNDS}.s, ' '),
                                      '  '))::DOUBLE
                     / len(string_split(trim(d0.s, ' '), '  ')), 6)
                   AS ratio
        FROM d0 JOIN d{BPE_B_ROUNDS} USING (doc_id)
    """


def q_pipeline_pretraining(spark, sf_dir):
    """The whole curation flow as ONE declarative plan: policy filter ->
    exact near-identity dedup (normalized-text fingerprint, keep-min) ->
    model-based quality gate -> deterministic shard assignment ->
    per-shard accounting.

    This is the reference's scan->map->fold pipeline (crawler.go:
    204-255) grown into a production pretraining recipe, and the reason
    the operators compose: each stage is a relation-in/relation-out
    projection or join, so Catalyst fuses the three row-local stages
    into one scan pass; the only shuffles are the dedup group (digest
    keys), the shard window, and the final per-shard aggregate.
    Output: one row per shard with document and token accounting — the
    corpus card a data recipe reports.
    """
    d = load_table(spark, sf_dir, "documents")
    toks = words()
    n = F.size(toks)
    has_block = F.size(F.array_intersect(
        F.array_distinct(toks),
        F.array(*[F.lit(w) for w in BLOCKLIST]))) > 0
    policy_ok = (~has_block) & (n >= MIN_WORDS) & (n <= MAX_WORDS)
    score = F.aggregate(
        toks, F.lit(0).cast("long"),
        lambda acc, t: acc + _tok_weight_spark(t))
    norm = F.regexp_replace(F.lower(F.col("text")), r"\s+", " ")
    stage1 = (d.filter(policy_ok)
               .select("doc_id", n.alias("n_tokens"), score.alias("score"),
                       F.md5(F.encode(norm, "UTF-8")).alias("fp")))
    dedup_w = W.partitionBy("fp").orderBy("doc_id")
    survivors = (stage1.withColumn("rk", F.row_number().over(dedup_w))
                       .filter(F.col("rk") == 1)
                       .filter(F.col("score") > 0))
    h = F.md5(F.encode(F.col("doc_id").cast("string"), "UTF-8"))
    shard = (F.conv(F.substring(h, 1, 4), 16, 10)
              .cast("long") % N_SHARDS).cast("int")
    return (survivors.select("doc_id", "n_tokens", shard.alias("shard"))
                     .groupBy("shard")
                     .agg(F.count(F.lit(1)).alias("n_docs"),
                          F.sum("n_tokens").alias("sum_tokens"),
                          F.min("doc_id").alias("min_doc"),
                          F.max("doc_id").alias("max_doc")))


# ------------------------------------------------------------------
# DSIR-style importance weighting (Xie et al., 2023 — Data Selection
# via Importance Resampling)
# ------------------------------------------------------------------

DSIR_BUCKETS = 1024
DSIR_TARGET_LANG = "en"


def q_dsir_weights(spark, sf_dir):
    """Per-document importance weight log(p_target/p_raw) under hashed
    unigram bucket models — the DSIR recipe for selecting raw-corpus
    documents that look like a target domain (here: the English slice
    stands in for the target; swapping in an external target sample
    changes one filter).

    Each token hashes into one of 1024 buckets (md5_32 % B — the
    portable recipe shared with quality_classifier_hashed); the raw and
    target bucket distributions get add-one smoothing, and a bucket's
    log ratio is ONE integer rational:

        log w(b) = ln((c_t[b]+1) * (N_r+B)) - ln((c_r[b]+1) * (N_t+B))

    computed with the engine-deterministic ``_ln_det`` and quantized
    once per bucket to integer micro-nats, so per-document sums are
    associative integer adds (the LM-score determinism recipe).

    Scale: the raw bucket counts aggregate the bag of words' word
    counts and the per-document scores its (doc, word, tf) counts
    (broadcast model join + sum(tf * logw)); only the target slice is
    exploded here.  Products stay under 2^63 for any corpus with
    N_t * c_r < 9e18.
    """
    from .text import _ln_det, _lit_spark

    bag = index_for(spark, sf_dir).bag
    b = (F.conv(F.substring(F.md5(F.encode("word", "UTF-8")), 1, 8),
                16, 10).cast("long") % DSIR_BUCKETS).alias("b")
    c_t = (load_table(spark, sf_dir, "documents")
           .filter(F.col("lang") == DSIR_TARGET_LANG)
           .select(F.explode(words()).alias("word"))
           .groupBy(b).agg(F.count(F.lit(1)).alias("c_t")))
    bc = (bag.df.groupBy(b).agg(F.sum("cf").alias("c_r"))
          .join(c_t, "b", "left")
          .select("b", "c_r", F.coalesce("c_t", F.lit(0)).alias("c_t")))
    tot = bc.agg(F.sum("c_r").alias("n_r"), F.sum("c_t").alias("n_t"))
    num = f"((c_t + 1) * (n_r + {DSIR_BUCKETS}))"
    den = f"((c_r + 1) * (n_t + {DSIR_BUCKETS}))"
    logw = (f"CAST(round(({_ln_det(num, _lit_spark)}"
            f" - {_ln_det(den, _lit_spark)}) * 1e6, 0) AS BIGINT)")
    model = (bc.crossJoin(F.broadcast(tot))
               .selectExpr("b", f"{logw} AS logw_u"))
    return (bag.tf.select("doc_id", "tf", b)
               .join(F.broadcast(model), "b")
               .groupBy("doc_id")
               .agg(F.sum("tf").alias("n_tokens"),
                    F.sum(F.col("tf") * F.col("logw_u")).alias("sum_logw_u"))
               .select("doc_id", "n_tokens", "sum_logw_u",
                       # floor of micro-nats-per-token: ROUND(x, 6) hit a
                       # genuine half-tie at sf0.1 (sum/n = -997.5) where
                       # the engines' tie rules differ; floor has no ties
                       # (the quotient can only be integer when the double
                       # division is exact, far beyond 1 ulp otherwise).
                       F.floor(F.col("sum_logw_u") / F.col("n_tokens"))
                        .cast("long").alias("mean_logw_e6")))


# ------------------------------------------------------------------
# Crawl-frontier URL canonicalization + dedup
# ------------------------------------------------------------------
#
# The reference IS a crawler (crawler.go's worklist of fetch targets),
# and the first thing a crawl frontier needs at 100 TB is URL
# canonicalization: the same page arrives as HTTP://HOST:80/a?b=2&a=1,
# host/a/?a=1&b=2&utm_source=feed, and host/a?a=1&b=2#frag.  The
# testdata has no URL column, so each document synthesizes ONE messy
# URL deterministically from (doc_id, source) — five variant shapes
# covering scheme/host case, default port, trailing slash, utm_*
# params, unsorted params, and fragments — with the SAME expression in
# both engines, then both canonicalize and dedup.  Canonical recipe:
# strip fragment; lowercase scheme and host:port; drop the scheme's
# default port; strip trailing path slashes (empty path -> '/'); drop
# utm_* params; sort the rest.  Everything is JVM built-in string/array
# ops (whole-stage codegen — no UDF), and the only shuffle is the final
# partial+final agg on the canonical URL.

def canonical_url_expr(url):
    """The canonicalizer as a reusable column expression (JVM built-ins
    only): strip fragment; lowercase scheme and host:port; drop the
    scheme's default port; strip trailing path slashes (empty -> '/');
    drop utm_* params; sort the rest.  IDEMPOTENT by construction —
    canon(canon(u)) == canon(u), pinned in tests — which is what lets
    an incremental crawl re-canonicalize its own frontier for free."""
    u = F.regexp_replace(url, "#.*$", "")
    scheme = F.lower(F.regexp_extract(u, "^([A-Za-z]+)://", 1))
    rest = F.regexp_replace(u, "^[A-Za-z]+://", "")
    hostport = F.lower(F.regexp_extract(rest, "^([^/?]+)", 1))
    host = (F.when(scheme == "http",
                   F.regexp_replace(hostport, ":80$", ""))
             .when(scheme == "https",
                   F.regexp_replace(hostport, ":443$", ""))
             .otherwise(hostport))
    pathq = F.regexp_replace(rest, "^[^/?]+", "")
    path = F.regexp_replace(F.regexp_extract(pathq, "^([^?]*)", 1),
                            "/+$", "")
    path = F.when(path == "", F.lit("/")).otherwise(path)
    query = F.regexp_extract(pathq, "\\?(.*)$", 1)
    params = F.array_sort(F.filter(
        F.split(query, "&"),
        lambda p: (p != "") & ~p.startswith("utm_")))
    return F.concat(
        scheme, F.lit("://"), host, path,
        F.when(F.size(params) > 0,
               F.concat(F.lit("?"), F.array_join(params, "&")))
         .otherwise(F.lit("")))


def q_url_frontier_dedup(spark, sf_dir):
    """Canonicalize one synthetic messy URL per document and collapse
    the crawl frontier: canonical_url -> variant count + the smallest
    doc_id as the fetch representative."""
    d = load_table(spark, sf_dir, "documents")
    # variant = floor(doc_id/20) % 5 and page = floor(doc_id/100):
    # source is src{doc_id % 20}, so within one 100-block each source
    # sees the SAME page through all 5 messy shapes — canonicalization
    # must collapse the three http-default-port variants (asserted in
    # tests) while keeping https and :8080 distinct.
    pg = F.floor(F.col("doc_id") / 100).cast("bigint").cast("string")
    v = F.floor(F.col("doc_id") / 20).cast("bigint") % 5
    url = (F.when(v == 0, F.concat(F.lit("HTTP://"), F.upper("source"),
                                   F.lit(".Example.COM:80/page/"), pg,
                                   F.lit("?b=2&a=1")))
            .when(v == 1, F.concat(F.lit("http://"), F.col("source"),
                                   F.lit(".example.com/page/"), pg,
                                   F.lit("/?a=1&b=2&utm_source=feed")))
            .when(v == 2, F.concat(F.lit("http://"), F.col("source"),
                                   F.lit(".example.com/page/"), pg,
                                   F.lit("?a=1&b=2#sec-"),
                                   (F.col("doc_id") % 3).cast("string")))
            .when(v == 3, F.concat(F.lit("https://"), F.col("source"),
                                   F.lit(".example.com/page/"), pg,
                                   F.lit("?a=1&b=2")))
            .otherwise(F.concat(F.lit("http://"), F.col("source"),
                                F.lit(".example.com:8080/page/"), pg,
                                F.lit("?a=1&b=2"))))
    return (d.select(canonical_url_expr(url).alias("canonical_url"),
                     "doc_id")
             .groupBy("canonical_url")
             .agg(F.count(F.lit(1)).alias("n_variants"),
                  F.min("doc_id").alias("keep_doc_id")))


# robots.txt-style rules: (rule_id, host-or-*, path prefix, allow).
# Longest matching prefix wins; a host-specific rule beats a wildcard
# at equal prefix length (rule_id breaks exact ties).  Shared verbatim
# by the Spark plan (broadcast) and the oracle (VALUES).
ROBOTS_RULES = (
    (1, "*", "/", 1),                       # default: allow
    (2, "*", "/page/1", 0),                 # blocks /page/1, /page/1*
    (3, "*", "/page/12", 1),                # longest-prefix re-allow
    (4, "src3.example.com", "/page/", 0),   # host-specific block
)


def q_robots_filter(spark, sf_dir):
    """Robots-style fetch-policy filter over the deduplicated canonical
    frontier: every URL gets the verdict of its LONGEST-matching path
    prefix rule (host-specific beating wildcard on ties) — the
    crawl-side cousin of text_blocklist_filter, and the classic
    longest-prefix-match join (IP routing / robots.txt semantics).

    Scale shape: the rule table is broadcast (a real robots corpus is
    |hosts|-bounded and belongs in a broadcast dim or a co-partitioned
    join on host); candidates fan out to <= |matching rules| per URL
    and one row_number window keyed on the URL keeps the longest — no
    per-URL rule arrays, no UDF.
    """
    f = q_url_frontier_dedup(spark, sf_dir)
    urls = f.select(
        "canonical_url", "keep_doc_id",
        F.regexp_extract("canonical_url",
                         "^[a-z]+://([^/?]+)", 1).alias("host"),
        F.regexp_extract("canonical_url",
                         "^[a-z]+://[^/?]+([^?]*)", 1).alias("path"))
    rules = spark.createDataFrame(
        list(ROBOTS_RULES), "rule_id int, rhost string, prefix string, "
                            "allow int")
    m = urls.join(
        F.broadcast(rules),
        ((F.col("rhost") == "*") | (F.col("rhost") == F.col("host")))
        & F.col("path").startswith(F.col("prefix")))
    spec = (F.when(F.col("rhost") != "*", 1).otherwise(0))
    w = W.partitionBy("canonical_url").orderBy(
        F.length("prefix").desc(), spec.desc(), F.asc("rule_id"))
    return (m.withColumn("rk", F.row_number().over(w))
             .filter(F.col("rk") == 1)
             .select("canonical_url", "keep_doc_id", "host", "rule_id",
                     (F.col("allow") == 1).alias("allowed")))


QUERIES = {
    "quality_classifier_hashed": q_quality_classifier,
    "dsir_importance_weights": q_dsir_weights,
    "bpe_train_merges": q_bpe_train,
    "bpe_train_batched": q_bpe_train_batched,
    "bpe_train_batched512": q_bpe_train_batched512,
    "unigram_lm_train": q_unigram_lm_train,
    "unigram_lm_train_v1k": q_unigram_lm_train_v1k,
    "unigram_lm_apply": q_unigram_lm_apply,
    "corpus_domain_mixture": q_corpus_domain_mixture,
    "curation_epoch_schedule": q_curation_epoch_schedule,
    "domain_mixture_mw_iterated": q_domain_mixture_mw,
    "bpe_apply_batched": q_bpe_apply_batched,
    "skyline_pareto_docs": q_skyline_pareto_docs,
    "bpe_apply_compression": q_bpe_apply,
    "pipeline_pretraining_e2e": q_pipeline_pretraining,
    "text_blocklist_filter": q_blocklist_filter,
    "sample_token_budget": q_sample_token_budget,
    "shard_assignment": q_shard_assignment,
    "crawl_url_frontier_dedup": q_url_frontier_dedup,
    "crawl_robots_filter": q_robots_filter,
}

_W_DUCK = "(('0x' || substr(md5(t), 1, 8))::BIGINT % 2001 - 1000)"

ORACLE = {
    "bpe_train_merges": _bpe_oracle_sql(),
    "bpe_train_batched": _bpe_batched_oracle_sql(),
    "bpe_train_batched512": _bpe_batched_oracle_sql(
        BPE_512_ROUNDS, BPE_512_TOPN, BPE_512_BATCH),
    "unigram_lm_train": _unigram_oracle_sql(),
    "unigram_lm_train_v1k": _unigram_oracle_sql(
        v=UNIG1K_V, rounds=UNIG1K_ROUNDS, chunked=True),
    "unigram_lm_apply": _unigram_oracle_sql(apply=True),
    "corpus_domain_mixture": _unigram_oracle_sql(mixture=True),
    # The unigram-LM parent chain SPLICES in at the top level
    # (mixture_cte mode) with its result in a small MATERIALIZED
    # `mix`; every downstream CTE derives from those 20 cached rows,
    # so the trainer runs once with pushdown intact.  (Referencing an
    # inlined parent twice re-ran the whole trainer per reference;
    # nesting it as a derived table blocked pushdown through it —
    # each ~2-6x the sf0.01 preflight wall, the r09 verdict's
    # oracle-sweep-tax item.)
    "curation_epoch_schedule": f"""
        {_unigram_oracle_sql(mixture=True, mixture_cte=True)},
        base AS (
            SELECT source, mixture_ppm,
                   CAST(n_words::HUGEINT * 1000000
                        // SUM(n_words::HUGEINT) OVER ()
                        AS BIGINT) AS natural_ppm
            FROM mix),
        ep AS (SELECT CAST(unnest(generate_series(0, {EPOCHS - 1}))
                           AS INT) AS epoch),
        sched AS (
            SELECT epoch, source, natural_ppm, mixture_ppm,
                   CAST((mixture_ppm::HUGEINT * epoch
                         + natural_ppm::HUGEINT * ({EPOCHS - 1} - epoch))
                        // {EPOCHS - 1} AS BIGINT) AS w_ppm
            FROM base, ep),
        tw AS (SELECT epoch, SUM(w_ppm)::HUGEINT AS tw
               FROM sched GROUP BY 1),
        j AS (SELECT s.*,
                     CAST(s.w_ppm::HUGEINT * {EPOCH_TOKENS} // t.tw
                          AS BIGINT) AS bse,
                     (s.w_ppm::HUGEINT * {EPOCH_TOKENS}) % t.tw AS rem
              FROM sched s JOIN tw t USING (epoch)),
        used AS (SELECT epoch, SUM(bse)::BIGINT AS used
                 FROM j GROUP BY 1),
        r AS (SELECT j.*, used.used,
                     ROW_NUMBER() OVER (PARTITION BY j.epoch
                         ORDER BY j.rem DESC, j.source) AS rk
              FROM j JOIN used USING (epoch))
        SELECT epoch, source, natural_ppm, mixture_ppm, w_ppm,
               (bse + CASE WHEN rk <= {EPOCH_TOKENS} - used
                           THEN 1 ELSE 0 END)::BIGINT AS alloc_tokens
        FROM r
    """,
    "domain_mixture_mw_iterated": _doremi_oracle_sql(),
    "bpe_apply_batched": _bpe_apply_batched_oracle_sql(),
    "bpe_apply_compression": _bpe_apply_oracle_sql(),
    "pipeline_pretraining_e2e": f"""
        WITH s1 AS (
            SELECT doc_id,
                   len(string_split(text, ' ')) AS n_tokens,
                   list_reduce(
                       list_prepend(CAST(0 AS BIGINT),
                           list_transform(string_split(text, ' '),
                                          t -> {_W_DUCK})),
                       (a, b) -> a + b) AS score,
                   md5(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS fp
            FROM documents
            WHERE len(list_intersect(list_distinct(string_split(text, ' ')),
                                     ['slow', 'error', 'drop'])) = 0
              AND len(string_split(text, ' ')) BETWEEN {MIN_WORDS}
                                                   AND {MAX_WORDS}),
        surv AS (
            SELECT doc_id, n_tokens,
                   CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4))
                        ::BIGINT % {N_SHARDS} AS INT) AS shard
            FROM (SELECT doc_id, n_tokens, score,
                         ROW_NUMBER() OVER (PARTITION BY fp
                                            ORDER BY doc_id) AS rk
                  FROM s1)
            WHERE rk = 1 AND score > 0)
        SELECT shard, COUNT(*) AS n_docs,
               CAST(SUM(n_tokens) AS BIGINT) AS sum_tokens,
               MIN(doc_id) AS min_doc, MAX(doc_id) AS max_doc
        FROM surv GROUP BY shard
    """,
    "quality_classifier_hashed": f"""
        WITH s AS (
            SELECT doc_id, lang,
                   len(string_split(text, ' ')) AS n_tokens,
                   list_reduce(
                       list_prepend(CAST(0 AS BIGINT),
                           list_transform(string_split(text, ' '),
                                          t -> {_W_DUCK})),
                       (a, b) -> a + b) AS score_milli
            FROM documents)
        SELECT doc_id, lang, n_tokens, score_milli,
               ROUND(score_milli::DOUBLE / n_tokens, 6) AS mean_weight,
               score_milli > 0 AS keep
        FROM s
    """,
    "text_blocklist_filter": f"""
        WITH s AS (
            SELECT doc_id, source,
                   string_split(text, ' ') AS w,
                   len(string_split(text, ' ')) AS n_words
            FROM documents),
        r AS (
            SELECT doc_id, source, n_words,
                   concat_ws(',',
                       CASE WHEN len(list_intersect(list_distinct(w),
                                ['slow', 'error', 'drop'])) > 0
                            THEN 'blocklist' END,
                       CASE WHEN n_words < {MIN_WORDS} THEN 'too_short' END,
                       CASE WHEN n_words > {MAX_WORDS} THEN 'too_long' END,
                       CASE WHEN list_max(list_transform(w, x -> length(x)))
                                 > {MAX_WORD_LEN} THEN 'long_word' END)
                       AS reasons
            FROM s)
        SELECT doc_id, source, n_words, reasons, reasons = '' AS keep
        FROM r
    """,
    "sample_token_budget": f"""
        WITH t AS (
            SELECT doc_id, source,
                   len(string_split(text, ' ')) AS n_tokens,
                   md5(CAST(doc_id AS VARCHAR)) AS h
            FROM documents),
        c AS (
            SELECT doc_id, source, n_tokens,
                   CAST(SUM(n_tokens) OVER (
                       PARTITION BY source ORDER BY h, doc_id
                       ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tokens
            FROM t)
        SELECT doc_id, source, n_tokens, cum_tokens
        FROM c WHERE cum_tokens - n_tokens < {TOKEN_BUDGET}
    """,
    "shard_assignment": f"""
        WITH s AS (
            SELECT doc_id,
                   CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4))
                        ::BIGINT % {N_SHARDS} AS INT) AS shard,
                   md5(CAST(doc_id AS VARCHAR)) AS h
            FROM documents)
        SELECT doc_id, shard,
               CAST(ROW_NUMBER() OVER (PARTITION BY shard
                                       ORDER BY h, doc_id) AS BIGINT) AS pos
        FROM s
    """,
}


def _dsir_oracle_sql() -> str:
    from .text import _ln_det, _lit_duck

    num = f"((c_t + 1) * (n_r + {DSIR_BUCKETS}))"
    den = f"((c_r + 1) * (n_t + {DSIR_BUCKETS}))"
    return f"""
        WITH w AS (SELECT doc_id, lang = '{DSIR_TARGET_LANG}' AS is_t,
                          unnest(string_split(text, ' ')) AS word
                   FROM documents),
        wb AS (SELECT doc_id,
                      ('0x' || substr(md5(word), 1, 8))::BIGINT
                          % {DSIR_BUCKETS} AS b,
                      is_t
               FROM w),
        bc AS (SELECT b, COUNT(*) AS c_r,
                      COUNT(*) FILTER (WHERE is_t) AS c_t
               FROM wb GROUP BY b),
        tot AS (SELECT CAST(SUM(c_r) AS BIGINT) AS n_r,
                       CAST(SUM(c_t) AS BIGINT) AS n_t FROM bc),
        model AS (
            SELECT b,
                   CAST(ROUND(({_ln_det(num, _lit_duck)}
                               - {_ln_det(den, _lit_duck)}) * 1e6, 0)
                        AS BIGINT) AS logw_u
            FROM bc CROSS JOIN tot)
        SELECT doc_id, COUNT(*) AS n_tokens,
               CAST(SUM(logw_u) AS BIGINT) AS sum_logw_u,
               CAST(FLOOR(CAST(SUM(logw_u) AS DOUBLE) / COUNT(*)) AS BIGINT)
                   AS mean_logw_e6
        FROM wb JOIN model USING (b)
        GROUP BY doc_id
    """


ORACLE["dsir_importance_weights"] = _dsir_oracle_sql()

ORACLE["crawl_url_frontier_dedup"] = """
    WITH raw AS (
        SELECT doc_id,
               CAST(CAST(FLOOR(doc_id / 100) AS BIGINT) AS VARCHAR) AS pg,
               CASE CAST(FLOOR(doc_id / 20) AS BIGINT) % 5
                 WHEN 0 THEN 'HTTP://' || upper(source)
                             || '.Example.COM:80/page/'
                             || CAST(CAST(FLOOR(doc_id / 100) AS BIGINT)
                                     AS VARCHAR)
                             || '?b=2&a=1'
                 WHEN 1 THEN 'http://' || source || '.example.com/page/'
                             || CAST(CAST(FLOOR(doc_id / 100) AS BIGINT)
                                     AS VARCHAR)
                             || '/?a=1&b=2&utm_source=feed'
                 WHEN 2 THEN 'http://' || source || '.example.com/page/'
                             || CAST(CAST(FLOOR(doc_id / 100) AS BIGINT)
                                     AS VARCHAR)
                             || '?a=1&b=2#sec-'
                             || CAST(doc_id % 3 AS VARCHAR)
                 WHEN 3 THEN 'https://' || source || '.example.com/page/'
                             || CAST(CAST(FLOOR(doc_id / 100) AS BIGINT)
                                     AS VARCHAR)
                             || '?a=1&b=2'
                 ELSE 'http://' || source || '.example.com:8080/page/'
                             || CAST(CAST(FLOOR(doc_id / 100) AS BIGINT)
                                     AS VARCHAR)
                             || '?a=1&b=2'
               END AS url
        FROM documents),
    parts AS (
        SELECT doc_id,
               regexp_replace(url, '#.*$', '') AS u
        FROM raw),
    split1 AS (
        SELECT doc_id, u,
               lower(regexp_extract(u, '^([A-Za-z]+)://', 1)) AS scheme,
               regexp_replace(u, '^[A-Za-z]+://', '') AS rest
        FROM parts),
    split2 AS (
        SELECT doc_id, scheme,
               lower(regexp_extract(rest, '^([^/?]+)', 1)) AS hostport,
               regexp_replace(rest, '^[^/?]+', '') AS pathq
        FROM split1),
    split3 AS (
        SELECT doc_id, scheme,
               CASE WHEN scheme = 'http'
                    THEN regexp_replace(hostport, ':80$', '')
                    WHEN scheme = 'https'
                    THEN regexp_replace(hostport, ':443$', '')
                    ELSE hostport END AS host,
               regexp_replace(regexp_extract(pathq, '^([^?]*)', 1),
                              '/+$', '') AS path0,
               regexp_extract(pathq, '\\?(.*)$', 1) AS query
        FROM split2),
    canon AS (
        SELECT doc_id,
               scheme || '://' || host
               || CASE WHEN path0 = '' THEN '/' ELSE path0 END
               || CASE WHEN len(params) > 0
                       THEN '?' || array_to_string(params, '&')
                       ELSE '' END AS canonical_url
        FROM (SELECT doc_id, scheme, host, path0,
                     list_sort(list_filter(string_split(query, '&'),
                         p -> p <> '' AND NOT starts_with(p, 'utm_')))
                         AS params
              FROM split3))
    SELECT canonical_url, COUNT(*) AS n_variants,
           MIN(doc_id) AS keep_doc_id
    FROM canon GROUP BY 1
"""


def _robots_oracle() -> str:
    vals = ", ".join(f"({i}, '{h}', '{p}', {a})"
                     for i, h, p, a in ROBOTS_RULES)
    return f"""
    WITH frontier AS ({ORACLE["crawl_url_frontier_dedup"]}),
    urls AS (
        SELECT canonical_url, keep_doc_id,
               regexp_extract(canonical_url,
                              '^[a-z]+://([^/?]+)', 1) AS host,
               regexp_extract(canonical_url,
                              '^[a-z]+://[^/?]+([^?]*)', 1) AS path
        FROM frontier),
    rules(rule_id, rhost, prefix, allow) AS (VALUES {vals}),
    m AS (
        SELECT u.canonical_url, u.keep_doc_id, u.host,
               r.rule_id, r.allow, r.prefix, r.rhost
        FROM urls u JOIN rules r
          ON (r.rhost = '*' OR r.rhost = u.host)
         AND starts_with(u.path, r.prefix)),
    rk AS (
        SELECT *, ROW_NUMBER() OVER (
                   PARTITION BY canonical_url
                   ORDER BY length(prefix) DESC,
                            CASE WHEN rhost <> '*' THEN 1 ELSE 0 END
                                DESC,
                            rule_id) AS rk
        FROM m)
    SELECT canonical_url, keep_doc_id, host, rule_id,
           allow = 1 AS allowed
    FROM rk WHERE rk = 1
    """


ORACLE["crawl_robots_filter"] = _robots_oracle()


def q_crawl_schedule(spark, sf_dir):
    """End-to-end crawl scheduling — the reference's actual job, as one
    declarative chain: canonicalize + dedup the frontier, apply the
    robots policy, then emit each host's politeness-scheduled fetch
    plan: queue depth, blocked count, the first URL to fetch, and the
    estimated crawl time at that host's crawl-delay (hash-derived 1-3 s
    — standing in for a robots crawl-delay directive, identical integer
    in both engines).

    Scale shape: everything upstream is the two audited operators; the
    per-host rollup is a partial+final agg on ~|hosts| keys, and the
    first-URL argmin is a min over (slot, url) structs — no per-host
    URL arrays.  The per-host SLOT assignment (row_number by
    keep_doc_id) is the politeness queue position; at 100 TB hosts are
    the natural partition key for the fetch stage, and this relation
    IS that partitioning's work manifest.
    """
    v = q_robots_filter(spark, sf_dir)
    delay = (F.conv(F.substring(F.md5(F.encode("host", "UTF-8")), 1, 8),
                    16, 10).cast("long") % 3 + 1)
    w = W.partitionBy("host").orderBy("keep_doc_id")
    slots = (v.filter(F.col("allowed"))
              .withColumn("slot", F.row_number().over(w)))
    firsts = (slots.filter(F.col("slot") == 1)
                   .select("host", F.col("canonical_url")
                            .alias("first_url")))
    allowed = (slots.groupBy("host")
               .agg(F.count(F.lit(1)).alias("n_allowed"))
               .join(firsts, "host"))
    blocked = (v.filter(~F.col("allowed"))
                .groupBy("host")
                .agg(F.count(F.lit(1)).alias("n_blocked")))
    return (allowed.join(blocked, "host", "left")
            .select("host", "n_allowed",
                    F.coalesce("n_blocked", F.lit(0)).alias("n_blocked"),
                    "first_url",
                    (F.col("n_allowed") * delay).alias("est_seconds")))


QUERIES["crawl_schedule_e2e"] = q_crawl_schedule

ORACLE["crawl_schedule_e2e"] = f"""
    WITH verdicts AS ({ORACLE["crawl_robots_filter"]}),
    slots AS (
        SELECT host, canonical_url, keep_doc_id,
               ROW_NUMBER() OVER (PARTITION BY host
                                  ORDER BY keep_doc_id) AS slot
        FROM verdicts WHERE allowed),
    firsts AS (
        SELECT host, canonical_url AS first_url
        FROM slots WHERE slot = 1),
    allowed AS (
        SELECT s.host, COUNT(*)::BIGINT AS n_allowed,
               MIN(f.first_url) AS first_url
        FROM slots s JOIN firsts f USING (host) GROUP BY 1),
    blocked AS (
        SELECT host, COUNT(*)::BIGINT AS n_blocked
        FROM verdicts WHERE NOT allowed GROUP BY 1)
    SELECT a.host, a.n_allowed,
           COALESCE(b.n_blocked, 0) AS n_blocked, a.first_url,
           a.n_allowed * ((('0x' || substr(md5(a.host), 1, 8))::BIGINT
                           % 3) + 1) AS est_seconds
    FROM allowed a LEFT JOIN blocked b USING (host)
"""


K_ANON = 5


def q_privacy_k_anonymity(spark, sf_dir):
    """k-anonymity / l-diversity audit over the corpus — the
    data-governance gate a training-data pipeline runs before release
    (Sweeney 2002; Machanavajjhala 2007): treat (lang, log2 length
    bucket) as the quasi-identifier a re-identification attack would
    join on, `source` as the sensitive attribute, and report every
    equivalence class's size k, its sensitive-value diversity l, and
    whether it passes k >= K_ANON — plus the class's doc share, so the
    suppression cost of enforcing k-anonymity is read off directly.

    One partial+final agg to the QI-class grid (|langs| x ~12 buckets);
    the distinct-sensitive count is a two-level agg (exact, no
    approx_count_distinct) and the share denominator is a broadcast
    1-row total.  Zero joins touch the corpus twice.
    """
    d = load_table(spark, sf_dir, "documents")
    qi = d.select(
        "lang",
        F.floor(F.log2(F.greatest(F.col("n_chars"), F.lit(1))))
         .cast("int").alias("len_bucket"),
        "source")
    cls = (qi.groupBy("lang", "len_bucket", "source")
             .agg(F.count(F.lit(1)).alias("n_sv"))
             .groupBy("lang", "len_bucket")
             .agg(F.sum("n_sv").alias("k"),
                  F.count(F.lit(1)).alias("l_diversity")))
    total = qi.agg(F.count(F.lit(1)).alias("n_total"))
    return (cls.crossJoin(F.broadcast(total))
            .select("lang", "len_bucket",
                    F.col("k").cast("long").alias("k"),
                    F.col("l_diversity").cast("long").alias("l_diversity"),
                    (F.col("k") >= K_ANON).alias("k_anonymous"),
                    F.floor(F.col("k").cast("double")
                            / F.col("n_total").cast("double") * 1e6)
                     .cast("long").alias("share_e6")))


QUERIES["privacy_k_anonymity"] = q_privacy_k_anonymity

ORACLE["privacy_k_anonymity"] = f"""
    WITH qi AS (
        SELECT lang,
               CAST(FLOOR(log2(GREATEST(n_chars, 1))) AS INT)
                   AS len_bucket,
               source
        FROM documents),
    cls AS (
        SELECT lang, len_bucket,
               SUM(n_sv)::BIGINT AS k,
               COUNT(*)::BIGINT AS l_diversity
        FROM (SELECT lang, len_bucket, source, COUNT(*) AS n_sv
              FROM qi GROUP BY 1, 2, 3)
        GROUP BY 1, 2),
    tot AS (SELECT COUNT(*)::BIGINT AS n_total FROM qi)
    SELECT lang, len_bucket, k, l_diversity,
           k >= {K_ANON} AS k_anonymous,
           CAST(FLOOR(CAST(k AS DOUBLE) / CAST(n_total AS DOUBLE)
                      * 1e6) AS BIGINT) AS share_e6
    FROM cls, tot
"""

ORACLE["skyline_pareto_docs"] = f"""
    WITH b AS (
        SELECT doc_id,
               list_reduce(
                   list_prepend(CAST(0 AS BIGINT),
                       list_transform(string_split(text, ' '),
                                      t -> {_W_DUCK})),
                   (a, b) -> a + b) AS score_milli,
               n_chars::BIGINT AS n_chars
        FROM documents)
    SELECT d.doc_id, d.score_milli, d.n_chars
    FROM b d
    WHERE NOT EXISTS (
        SELECT 1 FROM b o
        WHERE o.score_milli > d.score_milli
          AND o.n_chars > d.n_chars)
"""

QUERIES["bpe_fertility_by_lang"] = q_bpe_fertility_by_lang

ORACLE["bpe_fertility_by_lang"] = (
    "WITH p AS (" + _bpe_apply_oracle_sql() + """),
    j AS (SELECT d.lang, p.n_tokens_before, p.n_tokens_after
          FROM p JOIN documents d USING (doc_id))
    SELECT lang, COUNT(*)::BIGINT AS n_docs,
           SUM(n_tokens_before)::BIGINT AS sum_words,
           SUM(n_tokens_after)::BIGINT AS sum_tokens,
           ((SUM(n_tokens_after)::HUGEINT * 1000000)
            // SUM(n_tokens_before))::BIGINT AS fertility_ppm
    FROM j GROUP BY 1
""")
