"""Custom stateful streaming operator: continuous pack-span assignment.

The batch pack writers (functions/pipeline_sql.q_sequence_pack,
operators/packing.pack_tokens_encoded) place each document at its running
token offset within its source via a two-level distributed prefix sum.  A
LIVE ingestion pipeline needs the same placement as documents ARRIVE:
``applyInPandasWithState`` keeps ``(last_doc_id, cum)`` per source in the
streaming state store, so every arriving document is assigned the exact
token span [st, st + n_tok) — and therefore its pack ids
floor(st/CAP)..floor(en/CAP) — that the batch writer would give it, hours
of micro-batches apart.

Ordering contract (mirrors stateful_delta's chunk contiguity): documents of
a source must arrive in NON-DECREASING doc_id order across micro-batches —
the order a doc_id-sorted corpus replay produces.  Under that contract
every id at or below the high-water mark has provably been placed already,
so the WHOLE at-or-below range is skipped as redelivery (at-least-once
sources routinely replay a multi-document tail, e.g. a whole re-read
file) — exact-once placement.  The flip side is the standard watermark
trade: a source that VIOLATES the order contract by delivering a brand-new
doc below the mark gets it silently skipped (indistinguishable from a
redelivery); the contract, not the operator, is the correctness boundary
— unlike stateful_delta's dense chunk ids, sparse doc ids make gaps
undetectable.  Batch-exactness is tested by replaying a corpus through
micro-batches and comparing every span to the batch prefix sum.

doc_id ORDER follows the batch writers' key policy (operators/packing):
``order='numeric'`` (default) parses ids as integers — matching
default_numeric_order / monotone_numeric_key_sql, and failing LOUDLY on a
non-numeric id, because lexicographic placement of numeric ids silently
diverges from the batch prefix sum ('10' < '9') — and ``order='lex'``
compares strings for genuinely string-keyed corpora (the
derived_string_order analog).  Numeric ids must additionally be
COLLISION-FREE after parsing: two distinct raw ids with equal numeric
value ('7' vs '007') would be placed as a window tie by the batch writer
but look like a redelivery here, so the operator raises loudly on any
equal-key/different-id pair (within a batch or against the high-water
mark) instead of silently dropping a document.

The group body is whole-batch vectorized (one argsort + cumsum per source
per micro-batch); no per-row Python.
"""

from __future__ import annotations

from typing import Iterator, Tuple

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from ..functions.pipeline_sql import PACK_CAP

OUT_SCHEMA = ("doc_id string, source string, n_tok int, st long, "
              "pack_first long, pack_last long")
STATE_SCHEMA = "last_doc_id string, cum long"
_OUT_COLS = ["doc_id", "source", "n_tok", "st", "pack_first", "pack_last"]


def _order_keys(ids: np.ndarray, order: str, source: str) -> np.ndarray:
    """Sort/compare keys under the chosen id policy — int64 values for
    'numeric' (loud on unparseable ids, the monotone_numeric_key_sql
    analog), the raw strings for 'lex'.  The numeric parse is one
    object->int64 astype (a C-level per-element int(), exact int-literal
    semantics: '1.5' fails like the batch writers' try_cast), not a Python
    list comprehension."""
    if order == "lex":
        return ids
    try:
        return ids.astype(np.int64)
    except (TypeError, ValueError) as e:
        raise ValueError(
            f"pack_assign: non-numeric doc_id in source {source!r} under "
            "order='numeric' — pass order='lex' for string-keyed corpora "
            "(lexicographic placement of numeric ids would silently "
            "diverge from the batch prefix sum)") from e


def _make_assign(order: str):
    def _assign_source(key: Tuple[str], pdf_iter: Iterator[pd.DataFrame],
                       state: GroupState) -> Iterator[pd.DataFrame]:
        source = key[0]
        last_doc, cum = state.get if state.exists else ("", 0)
        frames = [pdf for pdf in pdf_iter if len(pdf)]
        if not frames:
            state.update((last_doc, cum))
            yield pd.DataFrame(columns=_OUT_COLS)
            return
        pdf = pd.concat(frames) if len(frames) > 1 else frames[0]
        ids = pdf["doc_id"].to_numpy(object)
        keys = _order_keys(ids, order, source)
        srt = np.argsort(keys, kind="stable")
        pdf = pdf.iloc[srt]
        ids, keys = ids[srt], keys[srt]
        # first-occurrence-wins within the batch, then skip everything at
        # or below the high-water mark: under the non-decreasing delivery
        # contract those are provably redeliveries (see module docstring).
        # Under order='numeric', a key tie between DIFFERENT raw ids (e.g.
        # '7' vs '007') is an ERROR, not a dedup: the batch writer places
        # both rows (window tie, nondeterministic order), so silently
        # collapsing — or silently skipping an id that ties the high-water
        # mark — would diverge from the batch prefix sum
        first = np.concatenate(([True], keys[1:] != keys[:-1]))
        if order == "numeric":
            tie_diff = (~first) & np.concatenate(([False],
                                                  ids[1:] != ids[:-1]))
            if tie_diff.any():
                j = int(np.flatnonzero(tie_diff)[0])
                raise ValueError(
                    f"pack_assign: doc_ids {ids[j - 1]!r} and {ids[j]!r} in "
                    f"source {source!r} parse to the same numeric key "
                    f"{int(keys[j])} — numeric ids must be collision-free "
                    "after parsing (use order='lex' or canonical ids)")
        if last_doc:
            mark = _order_keys(np.array([last_doc], object), order,
                               source)[0]
            if order == "numeric":
                at_mark = (keys == mark) & (ids != last_doc)
                if at_mark.any():
                    j = int(np.flatnonzero(at_mark)[0])
                    raise ValueError(
                        f"pack_assign: doc_id {ids[j]!r} in source "
                        f"{source!r} parses to the placed high-water key "
                        f"{int(mark)} (last placed id {last_doc!r}) — "
                        "numeric ids must be collision-free after parsing "
                        "(use order='lex' or canonical ids)")
            first &= keys > mark
        kept = pdf.iloc[first]
        if not len(kept):
            state.update((last_doc, cum))
            yield pd.DataFrame(columns=_OUT_COLS)
            return
        n_tok = kept["n_tok"].to_numpy(np.int64)
        st = cum + np.concatenate(([0], np.cumsum(n_tok[:-1])))
        en = st + n_tok - 1
        state.update((str(kept["doc_id"].iloc[-1]),
                      int(cum + n_tok.sum())))
        # empty docs advance the high-water mark but occupy no span — the
        # batch pack queries filter n_tok > 0 the same way
        nz = n_tok > 0
        yield pd.DataFrame({
            "doc_id": kept["doc_id"].to_numpy(object)[nz],
            "source": source,
            "n_tok": n_tok[nz].astype(np.int32),
            "st": st[nz],
            "pack_first": st[nz] // PACK_CAP,
            "pack_last": en[nz] // PACK_CAP,
        })

    return _assign_source


def pack_assign_stream(docs: DataFrame, order: str = "numeric") -> DataFrame:
    """docs stream (doc_id, source, n_tok) -> exact pack-span placement
    per document, state = one (last_doc_id, cum) row per source.

    order: 'numeric' (default — ids parsed as integers, loud failure on a
    non-numeric id) or 'lex' (string comparison) — MUST match the order
    the batch pack writer uses on the same corpus (see module docstring)."""
    if order not in ("numeric", "lex"):
        raise ValueError(f"order must be 'numeric' or 'lex', got {order!r}")
    return (docs.groupBy("source").applyInPandasWithState(
        _make_assign(order), OUT_SCHEMA, STATE_SCHEMA,
        outputMode="update", timeoutConf=GroupStateTimeout.NoTimeout))
