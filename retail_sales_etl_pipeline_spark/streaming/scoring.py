"""Streaming DSIR scoring — the model-serving shape of data selection.

The importance model is FIT in batch (plans.mixing_queries.dsir_scores /
q158: hashed-unigram counts over target and raw corpora) and exported as
a plain artifact — at most DSIR_BUCKETS+1 integers, the one driver-side
collect in this path and a legitimate one: the model IS the serving
artifact, the exact analogue of shipping a fasttext/importance model to a
scoring fleet. Scoring an unbounded document stream is then STATELESS:
one mapInPandas per micro-batch with the model in closure — no shuffle,
no watermark, no state store, each arriving document scored exactly once
with the same integer micro-nat arithmetic as the batch query.

Semantics note: a stream document may contain tokens whose bucket never
occurred in the fit corpora; such buckets carry log((0+1)/(0+1)) = 0
micro-nats — exactly what the batch model would assign them under its
add-one smoothing. Stream == batch equivalence on a shared corpus is
pinned in tests/test_r5_additions.py.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame

from ..functions.scalar import POLY_BASE, POLY_MOD


def export_dsir_model(docs: DataFrame) -> tuple[dict[int, int], int]:
    """Fit the DSIR model on a batch corpus and export it driver-side:
    ({bucket: l_micro}, c_micro). Bounded by construction: <= DSIR_BUCKETS
    rows regardless of corpus size."""
    from ..plans.mixing_queries import dsir_model_frames

    ratio, tot = dsir_model_frames(docs)
    model = {r["bucket"]: r["l_micro"] for r in ratio.collect()}
    c_micro = tot.collect()[0]["c_micro"]
    if c_micro is None:  # no tokens anywhere — nothing to fit
        raise ValueError("cannot export a DSIR model from an empty corpus")
    return model, int(c_micro)


def dsir_score_stream(
    stream_docs: DataFrame,
    model: dict[int, int],
    c_micro: int,
    n_buckets: int,
) -> DataFrame:
    """Score a (possibly streaming) document frame against an exported
    DSIR model: (doc_id, source, n_tokens, logw_micronat). Stateless
    map-only plan — valid on batch and streaming DataFrames alike.
    The model rides in the batch function's closure, so workers read no
    model tables."""
    mod, base = POLY_MOD, POLY_BASE
    model_items = dict(model)  # defensive copy into the closure
    const = int(c_micro)

    def per_batch(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        memo: dict[str, int] = {}

        def bucket(tok: str) -> int:
            b = memo.get(tok)
            if b is None:
                h = 0
                for c in tok:
                    h = (h * base + ord(c)) % mod
                b = memo[tok] = h % n_buckets
            return b

        for pdf in batches:
            if pdf.empty:
                continue
            rows = []
            for did, src, text in zip(
                pdf["doc_id"], pdf["source"], pdf["text"]
            ):
                toks = text.split(" ")
                logw = len(toks) * const
                for t in toks:
                    logw += model_items.get(bucket(t), 0)
                rows.append({
                    "doc_id": int(did), "source": src,
                    "n_tokens": len(toks), "logw_micronat": logw,
                })
            yield pd.DataFrame(rows)

    return stream_docs.select("doc_id", "source", "text").mapInPandas(
        per_batch,
        "doc_id long, source string, n_tokens long, logw_micronat long",
    )
