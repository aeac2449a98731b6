"""In-engine trained quality classifier: logistic regression by
full-batch gradient descent, cross-engine exact.

The model-based filtering step every LLM data pipeline eventually
adds (fastText-style quality classifiers over cheap surface features)
— trained HERE, inside the engine, with no ML library: features are
whole-stage-codegen expressions, standardization is one moment
aggregate, and each gradient-descent round is one aggregate with the
weight vector on the broadcast side. Determinism follows the
fold-vs-unroll discipline (docs/SCALE.md): per-round weights are
rounded to 9 decimals in BOTH engines (Spark ``F.round`` in the loop,
DuckDB ``round`` in the unrolled-CTE oracle), the pre-sigmoid logit is
rounded to 6 so both engines exponentiate the identical double, and
features are rounded to 6 at extraction — so the only cross-engine
noise is float sum order, absorbed by the per-round rounding exactly
as in the k-means / power-iteration loops.

Label: document length above the corpus median, predicted WITHOUT any
length feature — only vocabulary-saturation signals (the distinct-token
ratio falls as a document grows against a finite vocabulary, plus
stopword ratio and mean token length). This is deliberately a label
the synthetic corpus CAN support: its ``lang`` column is assigned
independently of the text (every language shares one 31-word
vocabulary), so a language target would only demonstrate a flat
calibration. The machinery — train, score, calibrate — is
feature/label-agnostic; swap the expressions for a real corpus.

Driver traffic is O(rounds): four rounded weights per round, never
data.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from sierradb_spark.registry import Registry, load
from sierradb_spark.functions.memo import (
    pending_guard,
    register_memo,
    release_checkpoint,
)
from sierradb_spark.functions.text import STOPWORDS, _SQL_TOKS, tokens_col

REG = Registry()

# r12 (VERDICT item 5): the classifier and the calibration query each
# ran the FULL trainer — a corpus tokenize pass, the moment aggregate,
# and 8 GD-round aggregates — per invocation. The trained model is a
# pure function of the immutable (sf_dir) corpus, so it memoizes per
# (applicationId, sf_dir) exactly like the dedup pass families.
_LR_TRAIN_MEMO = register_memo("classifier.lr_train")


class _LRTrain:
    """Memo value for one trained model: moments row, weights, and the
    standardized-feature checkpoint. Exposes the checkpoint DataFrame's
    ``sparkSession``/``_jdf`` so the memo lifecycle (build-time executor
    stamps, block release on eviction) sees the localCheckpoint blocks
    through the wrapper."""

    __slots__ = ("mo", "w", "ft")

    def __init__(self, mo, w, ft) -> None:
        self.mo, self.w, self.ft = mo, w, ft

    @property
    def sparkSession(self):
        return self.ft.sparkSession

    @property
    def _jdf(self):
        return self.ft._jdf

_LR_ROUNDS = 8
_LR_RATE = 2.0
_FEATS = ("stopword_ratio", "distinct_ratio", "avg_token_len")
_NF = len(_FEATS)


def _sql_features() -> str:
    stop = ", ".join(f"'{w}'" for w in STOPWORDS)
    return f"""
        t0 AS MATERIALIZED (
            SELECT doc_id, text, {_SQL_TOKS} AS toks FROM documents
        ),
        med AS (
            SELECT round(quantile_cont(CAST(len(toks) AS DOUBLE), 0.5), 4)
                AS m
            FROM t0
        ),
        raw AS MATERIALIZED (
            SELECT doc_id,
                   CASE WHEN len(toks) > m THEN 1.0 ELSE 0.0 END AS y,
                   round(coalesce(len(list_filter(toks, t -> t IN ({stop})))
                         / CAST(nullif(len(toks), 0) AS DOUBLE), 0.0), 6)
                       AS x1,
                   round(coalesce(len(list_distinct(toks))
                         / CAST(nullif(len(toks), 0) AS DOUBLE), 0.0), 6)
                       AS x2,
                   round(coalesce(length(replace(text, ' ', ''))
                         / CAST(nullif(len(toks), 0) AS DOUBLE), 0.0), 6)
                       AS x3
            FROM t0 CROSS JOIN med
        ),
        mo AS MATERIALIZED (
            SELECT {", ".join(
                f"round(avg(x{j}), 9) AS m{j}, "
                f"round(sqrt(avg(x{j} * x{j}) - avg(x{j}) * avg(x{j})), 9)"
                f" AS s{j}"
                for j in range(1, _NF + 1)
            )}
            FROM raw
        ),
        ft AS MATERIALIZED (
            SELECT y, {", ".join(
                f"coalesce((x{j} - m{j}) / nullif(s{j}, 0), 0.0) AS z{j}"
                for j in range(1, _NF + 1)
            )}
            FROM raw CROSS JOIN mo
        ),
        w0cte AS (SELECT {", ".join(
            f"0.0 AS w{j}" for j in range(0, _NF + 1)
        )})
    """


def _sql_train_ctes() -> str:
    """Features + unrolled GD rounds — shared by the trainer query and
    the calibration query (which scores with the trained weights)."""
    rounds = []
    for r in range(1, _LR_ROUNDS + 1):
        prev = "w0cte" if r == 1 else f"w{r - 1}"
        logit = " + ".join(
            ["w.w0"] + [f"w.w{j} * f.z{j}" for j in range(1, _NF + 1)]
        )
        grads = ", ".join(
            [
                f"round(max(w.w0) - {_LR_RATE} * sum(p.pr - p.y)"
                f" / count(*), 9) AS w0"
            ]
            + [
                f"round(max(w.w{j}) - {_LR_RATE} * sum((p.pr - p.y) * p.z{j})"
                f" / count(*), 9) AS w{j}"
                for j in range(1, _NF + 1)
            ]
        )
        rounds.append(
            f"""
        p{r} AS (
            SELECT f.*,
                   1.0 / (1.0 + exp(-round({logit}, 6))) AS pr
            FROM ft f CROSS JOIN {prev} w
        ),
        w{r} AS MATERIALIZED (
            SELECT {grads}
            FROM p{r} p CROSS JOIN {prev} w
        )
        """
        )
    return "WITH " + _sql_features() + "," + ",".join(rounds)


def _sql_lr() -> str:
    finals = [
        "SELECT 'intercept' AS feature, 0.0 AS mu, 1.0 AS sd, "
        f"round(w0, 6) AS weight FROM w{_LR_ROUNDS}"
    ]
    for j, name in enumerate(_FEATS, start=1):
        finals.append(
            f"SELECT '{name}', round((SELECT m{j} FROM mo), 6), "
            f"round((SELECT s{j} FROM mo), 6), round(w{j}, 6) "
            f"FROM w{_LR_ROUNDS}"
        )
    return _sql_train_ctes() + " UNION ALL ".join(finals)


@REG.add(
    "quality_lr_classifier",
    oracle=_sql_lr(),
    doc=f"Logistic-regression classifier trained IN-ENGINE by "
    f"{_LR_ROUNDS} rounds of full-batch gradient descent (rate "
    f"{_LR_RATE}) on three length-blind surface features (stopword "
    "ratio, distinct-token ratio, mean token length), predicting "
    "above-median document length from vocabulary saturation alone — "
    "the fastText-quality-classifier shape of model-based corpus "
    "filtering with no ML library in the loop (the synthetic corpus "
    "assigns lang independently of text, so length is the honest "
    "learnable target here; the machinery is label-agnostic). Returns "
    "the deployable model: per-feature standardization moments and "
    "final weight. Cross-engine exactness follows the iterative-fold "
    "discipline: features rounded at extraction, the logit rounded to "
    "6 before the sigmoid so both engines exponentiate the same "
    "double, weights rounded to 9 per round (oracle = the same rounds "
    "as unrolled MATERIALIZED CTEs). Scale shape: one "
    "feature-extraction scan (codegen expressions only), one moment "
    "aggregate, then one aggregate per round with the 4-weight state "
    "broadcast — driver traffic O(rounds), shuffle traffic one "
    "partial-aggregate row per partition per round.",
)
def quality_lr_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    mo, w, _ft = _train(spark, sf_dir)
    out = [("intercept", 0.0, 1.0, round_half_up6(w[0]))]
    for j, name in enumerate(_FEATS, start=1):
        out.append(
            (
                name,
                round_half_up6(mo[f"m{j}"]),
                round_half_up6(mo[f"s{j}"]),
                round_half_up6(w[j]),
            )
        )
    return spark.createDataFrame(
        out, "feature string, mu double, sd double, weight double"
    )


@pending_guard(_LR_TRAIN_MEMO)
def _train(spark: SparkSession, sf_dir: str):
    """Run the GD loop; returns (moments row, weights tuple, the
    standardized feature DataFrame for downstream scoring). Memoized
    per (applicationId, sf_dir): the second consumer in a session
    (classifier then calibration, or either twice) reuses the trained
    model and the feature checkpoint instead of re-tokenizing the
    corpus and re-running the 8 GD rounds."""
    key = (spark.sparkContext.applicationId, sf_dir)
    got = _LR_TRAIN_MEMO.get(key)
    if got is not None:
        return got.mo, got.w, got.ft
    d = load(spark, sf_dir, "documents")
    toks = tokens_col(F.col("text"))
    base = d.select(
        "doc_id", "text", toks.alias("toks"), F.size(toks).alias("n")
    )
    tk = F.col("toks")
    nd = F.nullif(F.col("n").cast("double"), F.lit(0.0))
    feats = [
        F.round(
            F.coalesce(
                F.size(F.filter(tk, lambda t: t.isin(*STOPWORDS))) / nd,
                F.lit(0.0),
            ),
            6,
        ),
        F.round(F.coalesce(F.size(F.array_distinct(tk)) / nd, F.lit(0.0)), 6),
        F.round(
            F.coalesce(
                F.length(F.regexp_replace("text", " ", "")) / nd, F.lit(0.0)
            ),
            6,
        ),
    ]
    # ONE tokenize pass over the corpus: n rides the checkpoint beside
    # the features, so the label median and the moments both read the
    # cached 4-column blocks in ONE combined aggregate. The old shape
    # paid a full tokenize for the standalone median job, a SECOND full
    # tokenize materializing the feature checkpoint, and a third job
    # for the moments.
    raw = base.select(
        "n",
        *[c.alias(f"x{j}") for j, c in enumerate(feats, start=1)],
    ).localCheckpoint(eager=True)  # reused: med+moments + GD input

    mo_aggs = [
        F.round(F.expr("percentile(CAST(n AS DOUBLE), 0.5)"), 4).alias("med")
    ]
    for j in range(1, _NF + 1):
        x = F.col(f"x{j}")
        mo_aggs.append(F.round(F.avg(x), 9).alias(f"m{j}"))
        mo_aggs.append(
            F.round(F.sqrt(F.avg(x * x) - F.avg(x) * F.avg(x)), 9).alias(
                f"s{j}"
            )
        )
    mo = raw.agg(*mo_aggs).head()  # median + moments to the driver
    med = mo["med"]

    zcols = [
        F.coalesce(
            (F.col(f"x{j}") - F.lit(mo[f"m{j}"]))
            / F.nullif(F.lit(mo[f"s{j}"]), F.lit(0.0)),
            F.lit(0.0),
        ).alias(f"z{j}")
        for j in range(1, _NF + 1)
    ]
    ft = raw.select(
        F.when(F.col("n") > F.lit(med), F.lit(1.0))
        .otherwise(F.lit(0.0))
        .alias("y"),
        *zcols,
    ).localCheckpoint(eager=True)
    # The raw feature checkpoint is staging: both of its consumers (the
    # moment aggregate above, the ft materialization) have run, so its
    # blocks are dead — release them now instead of GC-paced (r12).
    release_checkpoint(raw)

    w = [0.0] * (_NF + 1)  # intercept + features, O(1) driver state
    for _ in range(_LR_ROUNDS):
        logit = F.lit(w[0])
        for j in range(1, _NF + 1):
            logit = logit + F.lit(w[j]) * F.col(f"z{j}")
        pr = F.lit(1.0) / (F.lit(1.0) + F.exp(-F.round(logit, 6)))
        aggs = [
            F.round(
                F.lit(w[0])
                - F.lit(_LR_RATE) * F.sum(pr - F.col("y")) / F.count(F.lit(1)),
                9,
            ).alias("w0")
        ]
        for j in range(1, _NF + 1):
            aggs.append(
                F.round(
                    F.lit(w[j])
                    - F.lit(_LR_RATE)
                    * F.sum((pr - F.col("y")) * F.col(f"z{j}"))
                    / F.count(F.lit(1)),
                    9,
                ).alias(f"w{j}")
            )
        row = ft.agg(*aggs).head()  # four rounded weights per round
        w = [row[f"w{j}"] for j in range(0, _NF + 1)]

    w = tuple(w)  # immutable: every memo hit hands out this same object
    _LR_TRAIN_MEMO[key] = _LRTrain(mo, w, ft)
    return mo, w, ft


_CAL_BINS = 10


@REG.add(
    "quality_lr_calibration",
    oracle=_sql_train_ctes()
    + f""",
        scored AS (
            SELECT f.y,
                   round(1.0 / (1.0 + exp(-round(
                       w.w0 + {" + ".join(f"w.w{j} * f.z{j}" for j in range(1, _NF + 1))},
                       6))), 6) AS pred
            FROM ft f CROSS JOIN w{_LR_ROUNDS} w
        )
        SELECT CAST(least(floor(pred * {_CAL_BINS}), {_CAL_BINS - 1}) AS INT)
                   AS bin,
               round(CAST(least(floor(pred * {_CAL_BINS}), {_CAL_BINS - 1})
                          AS DOUBLE) / {_CAL_BINS}, 1) AS bin_lo,
               CAST(count(*) AS BIGINT) AS n_docs,
               round(avg(pred), 4) AS avg_pred,
               CAST(sum(CASE WHEN y = 1.0 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_pos,
               round(avg(y), 6) AS frac_pos,
               round(avg(pred) - avg(y), 6) AS calibration_gap
        FROM scored GROUP BY 1, 2
    """,
    doc="Calibration table for the in-engine logistic-regression "
    "classifier: score every document with the weights "
    "quality_lr_classifier trains (the SAME unrolled rounds run inside "
    "this query's oracle), bucket by predicted probability into 10 "
    "fixed bins, and compare mean prediction to the actual positive "
    "rate per bin — the reliability diagram that says whether the "
    "scores can be used as sampling weights or only as a ranking. "
    "Binning is BY VALUE (floor(pred*10)), not by rank, so there is "
    "no global sort/window over the corpus — scoring is a "
    "whole-stage-codegen map (fixed-order dot product on rounded "
    "inputs: bit-identical cross-engine) and the table is one groupBy "
    "over 10 keys. Scale shape: train once (O(rounds) driver traffic), "
    "score in one scan.",
)
def quality_lr_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    _mo, w, ft = _train(spark, sf_dir)
    logit = F.lit(w[0])
    for j in range(1, _NF + 1):
        logit = logit + F.lit(w[j]) * F.col(f"z{j}")
    pred = F.round(
        F.lit(1.0) / (F.lit(1.0) + F.exp(-F.round(logit, 6))), 6
    )
    scored = ft.select(F.col("y"), pred.alias("pred"))
    bin_col = F.least(
        F.floor(F.col("pred") * _CAL_BINS), F.lit(_CAL_BINS - 1)
    ).cast("int")
    return (
        scored.withColumn("bin", bin_col)
        .groupBy(
            "bin",
            F.round(F.col("bin").cast("double") / _CAL_BINS, 1).alias("bin_lo"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.round(F.avg("pred"), 4).alias("avg_pred"),
            F.sum(F.when(F.col("y") == 1.0, 1).otherwise(0))
            .cast("long")
            .alias("n_pos"),
            F.round(F.avg("y"), 6).alias("frac_pos"),
            F.round(F.avg("pred") - F.avg("y"), 6).alias("calibration_gap"),
        )
    )


def round_half_up6(x: float) -> float:
    """Final-output rounding to 6 decimals, matching SQL ROUND
    (half away from zero on the shortest decimal representation) —
    Python's builtin round() is banker's rounding, which would
    disagree on exact .5 boundaries."""
    from decimal import ROUND_HALF_UP, Decimal

    return float(
        Decimal(repr(x)).quantize(Decimal("0.000001"), rounding=ROUND_HALF_UP)
    )
