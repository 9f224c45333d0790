"""The two benchmark pipelines and their output checks.

A pipeline call runs every public library call of its workload, each inside
a named span, then forces the results inside the ``force`` span. It returns
``(outputs, frames)``: ``outputs`` holds one entry per result, either a
``(rows, value_hash)`` pair from an aggregate job or the collected rows
(``digest`` turns those into the same pair); ``frames`` holds the call's
lazy result frames for the spot checks. The benchmark compares digests
across calls and runs; the spot checks at the bottom compare sampled rows
of one timed call's frames against independent in-process references.

Span names are the library module that owns the call, so the traced run
reports time per layer.
"""

from __future__ import annotations

import hashlib
import os
import re

import numpy as np
import pyarrow.parquet as pq
from pyspark.sql import Window
from pyspark.sql import functions as F

from polars_quant_spark.backtest.metrics import summary
from polars_quant_spark.backtest.vectorized import BacktestParams, _fold_state_loop, vectorized_backtest
from polars_quant_spark.functions import momentum as mo
from polars_quant_spark.functions import overlap as ov
from polars_quant_spark.functions import pattern as pat
from polars_quant_spark.functions import volume as vu
from polars_quant_spark.operators import dedup, recurrence, similarity, text
from polars_quant_spark.operators.recurrence import Rec, with_recurrences
from polars_quant_spark.operators.segmented import indicator_family_segmented
from polars_quant_spark.sources.bars import bars

from inputs import CHAIN_BASE_ID, LONG_HISTORY_SEGMENTS, SIZES, chain_ids

RECURRENCES = [
    Rec("ema_12", "ema", ["close"], {"p": 12}),
    Rec("ema_26", "ema", ["close"], {"p": 26}),
    Rec("rsi_14", "rsi", ["close"], {"p": 14}),
    Rec("atr_14", "atr", ["high", "low", "close"], {"p": 14}),
    Rec(["macd_dif", "macd_dea", "macd_hist"], "macd", ["close"], {}),
]


def digest(outputs: dict) -> dict:
    """``(rows, value_hash)`` per result of a pipeline call."""
    return {k: v if isinstance(v, tuple) else _rows_hash(v) for k, v in outputs.items()}


def _rows_hash(rows) -> tuple[int, str]:
    """Order-insensitive hash of collected rows (repr keeps every float
    digit)."""
    h = hashlib.sha256()
    for line in sorted(repr(tuple(r)) for r in rows):
        h.update(line.encode())
        h.update(b"\n")
    return len(rows), h.hexdigest()[:16]


def _agg_hash(df) -> tuple[int, str]:
    """Row count and order-insensitive value hash of a large frame in one
    aggregate job; each row's xxhash64 is folded mod 2^40 so the sum cannot
    overflow."""
    h = F.xxhash64(*[F.col(c) for c in df.columns]) % F.lit(1 << 40)
    n, s = df.agg(F.count(F.lit(1)), F.sum(h)).collect()[0]
    return int(n), f"{int(s or 0):x}"


def _indicators(b):
    w = Window.partitionBy("symbol").orderBy("t")
    up, _, lo = ov.bbands("close", 20, 2, 2, w)
    return b.select(
        "*",
        ov.sma("close", 20, w).alias("sma_20"),
        ov.wma("close", 10, w).alias("wma_10"),
        ov.midpoint("close", 14, w).alias("midpoint_14"),
        ov.midprice("high", "low", 14, w).alias("midprice_14"),
        up.alias("bb_up"),
        lo.alias("bb_lo"),
        mo.mom("close", 10, w).alias("mom_10"),
        mo.roc("close", 10, w).alias("roc_10"),
        mo.willr("high", "low", "close", 14, w).alias("willr_14"),
        mo.cmo("close", 14, w).alias("cmo_14"),
        mo.mfi("high", "low", "close", "volume", 14, w).alias("mfi_14"),
        vu.obv("close", "volume", w).alias("obv"),
    )


def _signals(df):
    w = Window.partitionBy("symbol").orderBy("t")
    fast, slow = F.col("ema_12"), F.col("ema_26")
    return df.withColumns(
        {
            "buy": (fast > slow) & (F.lag(fast).over(w) <= F.lag(slow).over(w)),
            "sell": (fast < slow) & (F.lag(fast).over(w) >= F.lag(slow).over(w)),
        }
    )


def long_history(spark, inp, span):
    with span("sources.bars"):
        b = bars(spark, inp)
    with span("functions"):
        screen = _indicators(b)
    with span("functions.pattern"):
        screen = pat.with_patterns(screen)
    with span("operators.recurrence"):
        x = with_recurrences(b, RECURRENCES)
    with span("backtest"):
        sig = _signals(x)
        res = summary(vectorized_backtest(sig))
    seg_rows = -(-SIZES["long_history"]["bars"] // LONG_HISTORY_SEGMENTS)
    with span("operators.segmented"):
        fam = indicator_family_segmented(b, segment_rows=seg_rows)
    with span("force"):
        outputs = {"screen": _agg_hash(screen), "summary": res.collect(), "family": _agg_hash(fam)}
    return outputs, {"screen": screen, "signals": sig, "family": fam}


def _load(spark, inp, name):
    return spark.read.parquet(os.path.join(inp, f"{name}.parquet"))


def corpus_dedup(spark, inp, span):
    # each span includes reading its own inputs
    with span("operators.dedup"):
        docs = _load(spark, inp, "documents")
        kept = dedup.minhash_dedup(docs)
    with span("operators.text"):
        stats = docs.select(
            "doc_id",
            "text",
            text.token_count("text").alias("n_tokens"),
            text.detect_language("text").alias("lang"),
            text.quality_score("text").alias("quality"),
            text.fingerprint("text").alias("fp"),
        )
    with span("operators.similarity"):
        emb = _load(spark, inp, "embeddings")
        topk = similarity.cosine_topk_auto(emb, _load(spark, inp, "queries"), k=10)
    with span("force"):
        outputs = {
            "dedup": kept.collect(),
            "text": _agg_hash(stats.drop("text")),
            "topk": topk.collect(),
        }
    return outputs, {"text": stats}


PIPELINES = {
    "long_history": long_history,
    "corpus_dedup": corpus_dedup,
}


# ---------------------------------------------------------------------------
# Spot checks of one timed call's results against independent in-process
# references, run outside the timed region while the call's frames are still
# live. Each returns a list of failure messages (empty = pass).
# ---------------------------------------------------------------------------

#: bar-workload symbols whose rows are checked
CHECK_SYMBOLS = 2


def _close_enough(got, want, name, sym) -> list[str]:
    got = np.array([np.nan if v is None else v for v in got], dtype=float)
    if got.shape != want.shape or not np.allclose(got, want, rtol=1e-9, atol=1e-9, equal_nan=True):
        return [f"{name} mismatch on {sym}"]
    return []


def _by_symbol(df, syms, cols) -> dict:
    """Sampled symbols' rows of a result frame, as numpy columns in time
    order."""
    rows = df.where(F.col("symbol").isin(syms)).select("symbol", "t", *cols).collect()
    out = {}
    for sym in syms:
        r = sorted((row for row in rows if row.symbol == sym), key=lambda row: row.t)
        out[sym] = {c: np.array([np.nan if row[c] is None else row[c] for row in r], dtype=float) for c in cols}
    return out


def _trailing_mean(x, p):
    out = np.full(x.shape, np.nan)
    c = np.cumsum(np.insert(x, 0, 0.0))
    out[p - 1 :] = (c[p:] - c[:-p]) / p
    return out


def _check_recurrences_and_backtest(outputs, frames, syms) -> list[str]:
    """Recurrence columns against the numpy kernels, and each symbol's
    backtest summary against the per-bar fold spec run on the same signals."""
    cols = ["high", "low", "close", "ema_12", "ema_26", "rsi_14", "atr_14", "buy", "sell"]
    got = _by_symbol(frames["signals"], syms, cols)
    summ = {r.symbol: r for r in outputs["summary"]}
    params = BacktestParams()
    errors = []
    for sym in syms:
        g = got[sym]
        h, lo, c = g["high"], g["low"], g["close"]
        errors += _close_enough(g["ema_12"], recurrence.ema(c, 12), "ema_12", sym)
        errors += _close_enough(g["ema_26"], recurrence.ema(c, 26), "ema_26", sym)
        errors += _close_enough(g["rsi_14"], recurrence.rsi(c, 14), "rsi_14", sym)
        errors += _close_enough(g["atr_14"], recurrence.atr(h, lo, c, 14), "atr_14", sym)
        buy = np.nan_to_num(g["buy"]).astype(bool)
        sell = np.nan_to_num(g["sell"]).astype(bool)
        _, _, equity, _, state = _fold_state_loop(c, buy, sell, params)
        row = summ.get(sym)
        if row is None:
            errors.append(f"no backtest summary for {sym}")
            continue
        if row.total_trades != state[6] or row.n_bars != len(c):
            errors.append(f"backtest trades/bars mismatch on {sym}")
        if abs(row.total_return - (equity[-1] / params.initial_capital - 1.0)) > 1e-6:
            errors.append(f"backtest total_return mismatch on {sym}")
    return errors


def _patterns(o, h, lo, c) -> dict:
    """cdldoji and cdlengulfing from the library's candle definitions:
    +100 bullish / -100 bearish / 0, NaN before the lookback is filled."""
    doji = np.where(np.abs(c - o) <= 0.005 * ((h + lo) / 2.0), 100.0, 0.0)
    po, pc = np.roll(o, 1), np.roll(c, 1)
    bull = (c > o) & (pc < po) & (c > po) & (o < pc)
    bear = (c < o) & (pc > po) & (o > pc) & (c < po)
    engulfing = np.where(bull, 100.0, np.where(bear, -100.0, 0.0))
    engulfing[:1] = np.nan
    return {"cdldoji": doji, "cdlengulfing": engulfing}


def check_long_history(spark, inp, outputs, frames) -> list[str]:
    """Sampled symbols' recurrences and backtest summary, two screen
    indicators (sma_20, mom_10), two candlestick patterns and the segmented
    family's rsi/atr, which are bit-equal to the plain kernels, against
    in-process references."""
    syms = sorted(r.symbol for r in outputs["summary"])[:CHECK_SYMBOLS]
    errors = _check_recurrences_and_backtest(outputs, frames, syms)
    cols = ["open", "high", "low", "close", "sma_20", "mom_10", "cdldoji", "cdlengulfing"]
    got = _by_symbol(frames["screen"], syms, cols)
    for sym in syms:
        g = got[sym]
        c = g["close"]
        errors += _close_enough(g["sma_20"], _trailing_mean(c, 20), "sma_20", sym)
        mom = np.full(c.shape, np.nan)
        mom[10:] = c[10:] - c[:-10]
        errors += _close_enough(g["mom_10"], mom, "mom_10", sym)
        for name, want in _patterns(g["open"], g["high"], g["low"], c).items():
            errors += _close_enough(g[name], want, name, sym)
    got = _by_symbol(frames["family"], syms, ["high", "low", "close", "rsi", "atr"])
    for sym in syms:
        g = got[sym]
        errors += _close_enough(g["rsi"], recurrence.rsi(g["close"], 14), "segmented rsi", sym)
        errors += _close_enough(
            g["atr"], recurrence.atr(g["high"], g["low"], g["close"], 14), "segmented atr", sym
        )
    return errors


def check_corpus(spark, inp, outputs, frames) -> list[str]:
    """The planted chain lands in shared components of its own; sampled
    token counts and the ANN top-k match in-process references computed
    from the input files."""
    errors = []
    kept = {r.doc_id: r.keep_id for r in outputs["dedup"]}
    chain = chain_ids()
    keep = [kept[d] for d in chain]
    if any(k < CHAIN_BASE_ID for k in keep):
        errors.append("chain doc merged with a corpus doc")
    if len(set(keep)) > len(chain) // 4:
        errors.append(f"chain split into {len(set(keep))} components")

    for r in frames["text"].orderBy("doc_id").limit(200).select("text", "n_tokens").collect():
        if r.n_tokens != len([t for t in re.split("[^a-z0-9]+", r.text.lower()) if t]):
            errors.append("token_count mismatch")
            break

    emb = pq.read_table(os.path.join(inp, "embeddings.parquet"))
    qs = pq.read_table(os.path.join(inp, "queries.parquet"))
    ids = emb.column("vec_id").to_numpy()
    C = np.stack(emb.column("embedding").to_numpy(zero_copy_only=False)).astype(np.float64)
    Q = np.stack(qs.column("embedding").to_numpy(zero_copy_only=False)).astype(np.float64)
    # the library rounds similarities to 6 decimals and breaks ties by id
    sims = np.floor((Q @ C.T) / np.outer(np.linalg.norm(Q, axis=1), np.linalg.norm(C, axis=1)) * 1e6 + 0.5)
    got = {}
    for r in outputs["topk"]:
        got.setdefault(r.query_id, {})[r.rank] = r.vec_id
    for qi, qid in enumerate(qs.column("query_id").to_pylist()):
        want = list(ids[np.lexsort((ids, -sims[qi]))[:10]])
        if [got.get(qid, {}).get(k) for k in range(1, 11)] != want:
            errors.append(f"top-k mismatch for query {qid}")
    return errors


CHECKS = {
    "long_history": check_long_history,
    "corpus_dedup": check_corpus,
}
