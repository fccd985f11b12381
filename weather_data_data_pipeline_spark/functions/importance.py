"""DSIR-style data selection: hashed n-gram importance resampling
(Xie et al. 2023, "Data Selection for Language Models via Importance
Resampling") — pick raw-corpus documents that look like a TARGET
distribution, the selection step between dedup and training-mix in an
LLM data pipeline.

Algorithm, re-expressed Spark-first:

1. Featurize every document as a bag of HASHED n-grams (unigrams +
   bigrams → md5 buckets, ``num_buckets`` total). Hashing fixes the
   feature space ahead of time, so the corpus-wide state is two
   ``num_buckets``-row count tables no matter how many TB of text flow
   through — the property that makes DSIR viable at scale where a full
   vocabulary would not be.
2. Fit two categorical bag-of-hashed-ngrams models with add-one
   smoothing: ``p`` on the target slice, ``q`` on the raw corpus.
3. Per document, the log importance weight is
   ``log w(x) = Σ_b count_b(x) · ln(p_b / q_b)``.
4. Select: Gumbel-top-k on ``log w`` — equivalent to sampling without
   replacement proportionally to ``w`` (the paper's importance
   resampling), with the Gumbel noise derived from
   :func:`~..functions.text.portable_uniform` so any engine with md5
   reproduces the exact same sample.

Determinism contract (what makes the whole thing oracle-checkable):
the per-BUCKET log-ratio is computed once from integer counts and
rounded to 6 decimals BEFORE the per-document accumulation, and the
accumulation itself is ``Σ count_b · r_b`` in exact decimal
arithmetic — so the per-doc weight is invariant to partial-aggregation
order (a raw double Σ over grams is not). Only ``num_buckets`` ln()
calls ever hit floating point, not one per gram.

Scale shape: the corpus text is read ONCE — target flag carried
through the gram explode, one map-side-combinable (id, bucket) count
shuffle, and everything downstream (both bucket models, their totals,
the per-doc weight sum) derives from that small localCheckpointed
table. The num_buckets-row ratio table broadcasts back. No shuffle
ever carries text past the explode.

The reference has no selection operator; this extends the engine for
the LLM-training-data north star (BASELINE.json) alongside the dedup /
quality / sampling stack.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .text import nonempty_tokens, portable_uniform

# decimal(28,6): 6-dp per-bucket log-ratios scaled by up-to-2^63 gram
# counts stay exact; the final read-out casts the exact decimal straight
# to double (no re-rounding — half-way rounding of doubles is
# engine-dependent, decimal->double conversion is not).
_RATIO_DECIMAL = "decimal(28,6)"


_HEX_DIGITS = "0123456789abcdef"


def md5_bucket(g, num_buckets: int):
    """The md5 bucket of string column ``g``:
    ``int(md5(g)[:8], 16) % num_buckets`` as a LONG — the formula the
    DuckDB oracle replays and the frozen DSIR model was fit with.

    When ``num_buckets`` divides 256 the eight-digit value
    ``256·x + y`` (``y`` = hex characters 7–8) is ``y`` modulo
    ``num_buckets``, so the bucket is read from those two characters
    with digit arithmetic. That stays in whole-stage codegen and skips
    ``conv``, whose per-call cost dominated the DSIR gram pass. Any
    other bucket count keeps the eight-digit ``conv``; both spellings
    give the same buckets."""
    m = F.md5(g)
    if 256 % num_buckets:
        return F.conv(F.substring(m, 1, 8), 16, 10).cast("long") % F.lit(
            num_buckets
        )

    def digit(c: int):
        return F.instr(F.lit(_HEX_DIGITS), F.substring(m, c, 1)) - 1

    return ((digit(7) * 16 + digit(8)) % num_buckets).cast("long")


def hashed_gram_buckets(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_buckets: int = 256,
    include_bigrams: bool = True,
    carry: tuple[str, ...] = (),
    empty_doc_sentinel: bool = False,
) -> DataFrame:
    """(id, *carry, bucket) — one row per word unigram (and bigram)
    occurrence, hashed into ``num_buckets`` md5 buckets. The md5 family
    is the engine-portable choice (DuckDB replays it verbatim:
    ``CAST('0x' || substr(md5(g), 1, 8) AS BIGINT) % num_buckets``);
    the first 8 hex chars are 32 bits, so the modulus is bias-free for
    any realistic bucket count and never negative. :func:`md5_bucket`
    reads that bucket with the fewest hex digits the bucket count
    allows. ``carry`` columns (constant per document, e.g. a target
    flag) ride through the explode so downstream models never need to
    join back to the corpus.

    Bigrams explode their start index and concatenate two token slots,
    so md5 sees the same space-joined pair a ``concat_ws`` would build,
    and the pass stays in whole-stage codegen (no ``transform``
    lambda). Building the grams, md5 and the bucket read each take
    about a third of the pass (figures in :func:`dsir_score_frozen`).

    ``empty_doc_sentinel=True`` additionally emits ONE ``bucket = NULL``
    row per document (every document, including NULL/whitespace-only
    text) — per-document aggregates over the gram frame then cover the
    whole corpus without a join-back to the id list, at the cost of N
    extra rows in an explode that already carries the gram multiset
    (the r8 dsir replan). Consumers must exclude NULL buckets from gram
    counts and bucket models."""
    toks = df.select(
        F.col(id_col),
        *[F.col(c) for c in carry],
        nonempty_tokens(F.col(text_col)).alias("_t"),
    )
    frames = [toks.select(id_col, *carry, F.explode("_t").alias("g"))]
    if include_bigrams:
        i = F.col("_i")
        bi = (
            toks.where(F.size("_t") >= 2)
            .select(
                id_col,
                *carry,
                "_t",
                F.explode(F.sequence(F.lit(0), F.size("_t") - 2)).alias("_i"),
            )
            .select(
                id_col,
                *carry,
                F.concat(F.col("_t")[i], F.lit(" "), F.col("_t")[i + 1]).alias(
                    "g"
                ),
            )
        )
        frames.append(bi)
    out = frames[0] if len(frames) == 1 else frames[0].unionByName(frames[1])
    bucket = md5_bucket(F.col("g"), num_buckets)
    hashed = out.select(id_col, *carry, bucket.alias("bucket"))
    if empty_doc_sentinel:
        sentinel = toks.select(
            id_col, *carry, F.lit(None).cast("long").alias("bucket")
        )
        hashed = hashed.unionByName(sentinel)
    return hashed


def dsir_log_weights(
    df: DataFrame,
    id_col: str,
    text_col: str,
    target_filter,
    num_buckets: int = 256,
    include_bigrams: bool = True,
) -> DataFrame:
    """Per-document DSIR log importance weight under hashed n-gram
    bag models: (id, n_grams, log_w).

    ``target_filter`` is a boolean Column selecting the TARGET slice of
    ``df`` (e.g. ``F.col('lang') == 'en'``); the raw model ``q`` is fit
    on all of ``df``. Smoothing is add-one over ``num_buckets``.
    Documents with no grams (NULL or empty text) get n_grams=0,
    log_w=0.0 — an empty bag is equally likely under both models. A
    degenerate EMPTY target slice leaves tot_t NULL and every weight
    NULL-propagated to 0.0 via the final coalesce — callers should
    validate their target predicate matches something.

    The per-bucket ratio ``r_b = round(ln(p_b/q_b), 6)`` is decimal from
    there on, so the per-doc Σ count_b·r_b is exact regardless of
    aggregation order — the determinism contract in the module
    docstring.

    Scale shape (r8 replan, VERDICT r7 ask #4): the corpus text is
    touched ONCE — the target flag rides through the gram explode and a
    NULL-bucket SENTINEL row per document rides along with it, so the
    per-doc aggregate covers every document (zero-gram ones score 0)
    and the old join-back to the corpus id list is gone entirely. The
    (id, bucket) counts aggregate in one map-side-combinable shuffle;
    the raw/target bucket models come from ONE conditional aggregate
    over that table (not two separate groupBys), both totals from one
    single-row agg, and the per-doc accumulation reuses the same
    localCheckpointed count table. Plan: 3 data shuffles total
    (per-bucket counts, 256-row models, per-doc sums) — down from 5
    plus a join-back."""
    flagged = df.select(
        F.col(id_col),
        F.col(text_col),
        F.coalesce(target_filter.cast("boolean"), F.lit(False)).alias(
            "_tgt"
        ),
    )
    grams = hashed_gram_buckets(
        df=flagged,
        id_col=id_col,
        text_col=text_col,
        num_buckets=num_buckets,
        include_bigrams=include_bigrams,
        carry=("_tgt",),
        empty_doc_sentinel=True,
    )
    per_bucket = (
        grams.groupBy(id_col, "_tgt", "bucket")
        .agg(F.count("*").alias("n"))
        .localCheckpoint(eager=False)
    )
    ratios = _ratios_from_per_bucket(per_bucket, num_buckets)
    # LEFT join keeps the sentinel rows (bucket NULL never matches);
    # their n is excluded from n_grams and their NULL r vanishes from
    # the decimal sum, so a document of only sentinels scores (0, 0.0)
    per_doc = (
        per_bucket.join(F.broadcast(ratios), "bucket", "left")
        .groupBy(id_col)
        .agg(
            F.coalesce(
                F.sum(F.when(F.col("bucket").isNotNull(), F.col("n"))),
                F.lit(0),
            )
            .cast("bigint")
            .alias("n_grams"),
            # the decimal sum is EXACT; cast it to double with NO
            # re-rounding — both engines convert the same exact decimal
            # to the same nearest double, whereas round(double, 4)
            # straddles half-way boundaries differently per engine
            # (measured: 0.70205 → Spark 0.7021, DuckDB 0.702)
            F.coalesce(
                F.sum(F.col("n") * F.col("r")).cast("double"), F.lit(0.0)
            ).alias("log_w"),
        )
    )
    return per_doc.select(id_col, "n_grams", "log_w")


def _ratios_from_per_bucket(per_bucket: DataFrame, num_buckets: int) -> DataFrame:
    """(bucket, r): 6-dp decimal log-ratio per bucket from the
    (id, _tgt, bucket, n) count table — both bucket models come from
    ONE conditional aggregate (raw = every row, target = the _tgt
    slice; r8 replan of the two separate groupBys), both totals from
    one single-row agg over the 256-row model table, and the add-one-
    smoothed ratio from one projection. Shared by the fused fit+score
    path and the frozen-model fit. NULL buckets (the per-doc sentinel
    rows of ``hashed_gram_buckets(empty_doc_sentinel=True)``) are
    excluded — they are bookkeeping, not grams. An EMPTY target slice
    keeps the documented NULL-propagation contract: tot_t goes NULL
    (not 0), so every ratio and downstream weight degrades to 0.0."""
    from pyspark.sql import Window

    models = (
        per_bucket.where(F.col("bucket").isNotNull())
        .groupBy("bucket")
        .agg(
            F.sum("n").alias("cr"),
            F.sum(
                F.when(F.col("_tgt"), F.col("n")).otherwise(F.lit(0))
            ).alias("ct"),
        )
    )
    # totals attach via an unpartitioned window — models is <= num_buckets
    # rows BY CONSTRUCTION, so the single-partition window is bounded and
    # keeps the ratio chain a SINGLE consumer of per_bucket (a separate
    # totals agg + crossJoin would re-aggregate per_bucket twice)
    w = Window.partitionBy()
    tot_r = F.sum("cr").over(w)
    # preserve the empty-target contract of the old two-frame form: the
    # sum over an empty tgt frame was NULL, and the NULL propagates
    # through every ratio to the final coalesce-to-0.0
    tot_t = F.when(F.sum("ct").over(w) > 0, F.sum("ct").over(w))
    nb = F.lit(num_buckets)
    return models.select(
        "bucket",
        F.round(
            F.log(
                ((F.col("ct") + 1) / (tot_t + nb))
                / ((F.col("cr") + 1) / (tot_r + nb))
            ),
            6,
        )
        .cast(_RATIO_DECIMAL)
        .alias("r"),
    )


def dsir_model_ratios(
    df: DataFrame,
    id_col: str,
    text_col: str,
    target_filter,
    num_buckets: int = 256,
    include_bigrams: bool = True,
) -> DataFrame:
    """The FROZEN DSIR model: the ``num_buckets``-row (bucket, r) table
    of 6-dp decimal log-ratios fit on ``df`` — what a serving pipeline
    persists after a fit and broadcasts to score fresh corpora or a
    stream (:func:`dsir_score_frozen`,
    streaming/incremental.py:dsir_score_sink). Same fit as
    :func:`dsir_log_weights` (which fuses fit + score into one corpus
    pass); buckets no gram ever hit are absent, and score-time treats
    absent as ratio 0 — consistent with scoring a gram family the fit
    never saw."""
    flagged = df.select(
        F.col(id_col),
        F.col(text_col),
        F.coalesce(target_filter.cast("boolean"), F.lit(False)).alias(
            "_tgt"
        ),
    )
    grams = hashed_gram_buckets(
        df=flagged,
        id_col=id_col,
        text_col=text_col,
        num_buckets=num_buckets,
        include_bigrams=include_bigrams,
        carry=("_tgt",),
    )
    per_bucket = (
        grams.groupBy(id_col, "_tgt", "bucket")
        .agg(F.count("*").alias("n"))
        .localCheckpoint(eager=False)
    )
    return _ratios_from_per_bucket(per_bucket, num_buckets)


def dsir_score_frozen(
    df: DataFrame,
    ratios,
    id_col: str,
    text_col: str,
    num_buckets: int = 256,
    include_bigrams: bool = True,
    carry: tuple[str, ...] = (),
    assume_nonempty: bool = False,
) -> DataFrame:
    """Score ``df`` against a FROZEN (bucket, r) ratio table:
    (id, *carry, n_grams, log_w) with exactly
    :func:`dsir_log_weights`'s decimal contract — so scoring the same
    documents against the same frozen model yields bit-identical
    weights no matter how the corpus is split into batches. That
    invariance is what makes the streaming twin exact (stream == batch,
    per micro-batch), not approximate. One gram pass over ``df``; the
    model broadcasts.

    ``carry`` columns (constant per document) ride through so callers
    never join the scores back to the corpus. Zero-gram documents emit
    no gram rows, so the aggregate alone drops them; the default path
    restores them as (log_w 0, n_grams 0) via a left join-back against
    the corpus ids. ``assume_nonempty`` skips that join-back — callers
    who KNOW every document tokenizes to ≥1 gram save the extra join,
    but with it set a zero-gram document silently vanishes from the
    output.

    Plan shape (r11): the model is FROZEN and bucket-indexed, so it
    rides as a LITERAL array (the seeded-codebook device — ``ratios``
    is collected once, ≤ num_buckets model rows) and the per-gram
    ratio lookup is a codegen'd ``element_at(literal_array,
    bucket+1)`` INSIDE the gram explode — no broadcast join, and the
    old groupBy(doc,bucket) → join → groupBy(doc) pair collapses to
    ONE partially-aggregated groupBy(doc): shuffle O(documents), not
    O(grams × bucket fanout), and two exchanges become one. (A fully
    in-row HOF fold was measured no faster: higher-order functions
    evaluate interpreted, while the explode + hash-aggregate path
    stays in whole-stage codegen.)

    Exactness without decimal aggregation buffers: a DECIMAL(28,6)
    ratio is exactly its UNSCALED long (r × 10⁶), so the literal
    array carries micro-longs and the hot aggregate is a plain LONG
    sum — whole-stage-codegen primitive arithmetic instead of per-row
    Decimal objects (measured: the decimal-buffered sum dominated the
    scorer's wall at the time). The long total converts back by one
    exact decimal multiply (total ×
    0.000001 — both factors exact, product scale 6), so log_w is
    bit-identical to the old decimal ``sum(n·r)``, to the oracle's
    SQL SUM in any order, and across any batch split — the
    invariance contract the streaming twin pins. Overflow headroom:
    |log ratio| ≤ ~30 → |micros| ≤ 3×10⁷; a long saturates past
    3×10¹¹ grams PER DOCUMENT, far beyond any real document.
    Zero-gram documents are restored by the same left join-back as
    before unless ``assume_nonempty`` skips it.

    Where the CPU sits: in the gram pass, not in the model. One fresh
    pass of :func:`hashed_gram_buckets` over the 5,000 sf0.1 documents
    (about 536k unigrams and bigrams; JVM CPU, C1 JIT, 4 local cores)
    costs about 3.4 s: 1.3 s to build the grams, 1.2 s for md5, and
    0.9 s for :func:`md5_bucket`'s two-digit read. Reading the bucket
    with ``conv`` over eight hex digits cost 2.8 s instead of 0.9 s,
    and building bigrams in a ``transform`` lambda about 1 s more than
    the explode, 6.4 s for the pass in all.

    ``ratios`` is either a (bucket, r DECIMAL(28,6)) DataFrame or a
    plain iterable of (bucket, Decimal) pairs. Prefer the literal
    pairs for a frozen model: the DataFrame form pays a collect JOB
    per call (measured ~0.3 s of the frozen scorer's sub-second wall
    when the model was a parallelized 64-row frame), which is pure
    overhead for model state that already lives driver-side."""
    if isinstance(ratios, DataFrame):
        r_pairs = [
            (row["bucket"], row["r"])
            for row in ratios.select("bucket", "r").collect()
        ]
    else:
        r_pairs = list(ratios)
    micros = {}
    for b, r in r_pairs:
        if r is None:
            continue
        if not 0 <= int(b) < num_buckets:
            # a model fit with a different num_buckets than score time
            # would otherwise silently drop its out-of-range buckets and
            # mis-score every document — fail loudly, like the scale
            # check below
            raise ValueError(
                f"frozen DSIR model bucket {b} is outside [0, "
                f"{num_buckets}); the model was fit with a different "
                "num_buckets than this scorer"
            )
        scaled = r.scaleb(6)
        if scaled != scaled.to_integral_value():
            # the exactness contract is DECIMAL(28,6): silently rounding
            # a finer ratio here would break bit-equality with the
            # oracle's decimal sum — fail loudly instead
            raise ValueError(
                f"frozen DSIR ratio for bucket {b} has more than 6 "
                f"decimal places ({r}); the micro-long exact-sum "
                "contract requires scale <= 6"
            )
        micros[int(b)] = int(scaled)
    # ONE from_json string literal, not num_buckets F.lit children (the
    # r15/r16 device, see clustering._centroid_lit): the per-element
    # form cost ~num_buckets×3 py4j round trips per build plus a
    # num_buckets-child CreateArray in every Catalyst traversal; JSON
    # integers parse to the identical bigint Literal.
    import json as _json

    r_arr = F.from_json(
        F.lit(_json.dumps([micros.get(b, 0) for b in range(num_buckets)])),
        "array<bigint>",
    )
    grams = hashed_gram_buckets(
        df, id_col, text_col, num_buckets, include_bigrams, carry=carry
    )
    per_doc = (
        grams.select(
            id_col,
            *carry,
            F.element_at(
                r_arr, F.col("bucket").cast("int") + F.lit(1)
            ).alias("r_micros"),
        )
        .groupBy(id_col, *carry)
        .agg(
            F.count("*").cast("bigint").alias("n_grams"),
            (
                F.sum("r_micros").cast("decimal(38,0)")
                * F.lit("0.000001").cast("decimal(7,6)")
            )
            .cast("double")
            .alias("log_w"),
        )
    )
    if assume_nonempty:
        return per_doc
    return (
        df.select(id_col, *carry)
        .join(per_doc.drop(*carry) if carry else per_doc, id_col, "left")
        .select(
            id_col,
            *carry,
            F.coalesce("n_grams", F.lit(0)).cast("bigint").alias("n_grams"),
            F.coalesce("log_w", F.lit(0.0)).alias("log_w"),
        )
    )


def dsir_select_topk(
    weights: DataFrame,
    id_col: str,
    k: int,
    salt: str = "dsir-v1",
    log_w_col: str = "log_w",
    carry: tuple[str, ...] = (),
) -> DataFrame:
    """Gumbel-top-k importance RESAMPLING over precomputed log weights:
    score = log_w + Gumbel(0,1), take the k largest — distributionally
    identical to sampling k documents without replacement with
    probability ∝ exp(log_w) (Gumbel-max trick), but expressed as a
    deterministic, engine-portable expression: the Gumbel draw is
    ``-ln(-ln(u))`` with u from md5(salt || id)
    (:func:`~..functions.text.portable_uniform`), so reruns and other
    engines reproduce the exact same selection. Working in log space
    sidesteps exp(log_w) overflow entirely.

    Output: (id, *carry, log_w, score) for the k winners — ``carry``
    columns of ``weights`` ride through so callers never need to join
    the winners back to the corpus. One global top-k — Spark's
    TakeOrderedAndProject, no full sort."""
    u = portable_uniform(id_col, salt)
    score = F.col(log_w_col) + (-F.log(-F.log(u)))
    return (
        weights.select(
            id_col,
            *[F.col(c) for c in carry],
            F.col(log_w_col),
            F.round(score, 4).alias("score"),
            score.alias("_s"),
        )
        .orderBy(F.desc("_s"), F.asc(id_col))
        .limit(int(k))
        .drop("_s")
    )
