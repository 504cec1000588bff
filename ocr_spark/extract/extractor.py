"""The per-turn extraction pipeline (G1-G26) and its two entry points.

Stage order (mirrors the reference lifecycle, SURVEY.md §3.1):
  canonicalize (G1/G17) -> segment (G6/G11) -> densities (G18) ->
  adaptive threshold (G3/G4) -> gap close (G5) -> geometric gates
  (G7-G10) -> whole-turn fallback (G14) -> Otsu scoring (G15/G19) ->
  label/rescue/gate (G20-G22) -> pad (G13) -> merge (G12) ->
  ordered emit (G23-G25); per-turn failure isolation (G26).

Every step but the numeric ones is one helper that both entry points call:
`_prelude` (non-string -> error, blank -> empty, canonicalize, segment),
`_gates` (G7-G10), `_whole_turn` (G14), `content_scores` + `accept`, and
`_emit` (pad, merge, emit).
  - `extract_turn` (one payload, pure: the generalization of
    `predict_from_pil_image`, predict.py:212-299) serves `serve_one`.  Its
    numeric stage runs per turn (`_block_features`, `adaptive_candidates`,
    `otsu_split`): serving a one-turn batch through `extract_results`
    raised `serve_http` latency_p50_ms by 13%.
  - `extract_frame` / `extract_results` run `_extract_batch_results`, the
    body of both the single-process oracle and the mapInPandas operator,
    so "per-turn text equality under stable turn ordering" holds by
    construction.  Its numeric stages run once over the flat block arrays
    of the whole batch.
tests/test_batch_parity.py compares the two paths row for row, so what
it still checks is that numeric fork; the shared helpers are pinned by
literal outputs (tests/test_golden.py, tests/test_extractor.py).
"""

from __future__ import annotations

import re
import warnings
from itertools import chain
from typing import TYPE_CHECKING, Any

import numpy as np

from ocr_spark.constants import (
    FOOTER_FRAC,
    FOOTER_MAX_WORDS,
    LINK_DENSITY_MAX,
    MIN_BLOCK_CHARS,
    MIN_WORDS,
)
from ocr_spark.extract.canon import canonicalize, strip_tags
from ocr_spark.extract.classify import accept, content_scores
from ocr_spark.extract.merge import merge_spans, pad_span
from ocr_spark.extract.segment import Block, segment, strip_bounds
from ocr_spark.extract.threshold import (
    adaptive_candidates,
    adaptive_candidates_batch,
    close_gaps,
    otsu_split,
    otsu_split_batch,
    quantize,
)

if TYPE_CHECKING:  # pandas loads in extract_frame, off the serving path
    import pandas as pd

# Per-process compiled state (G27: the model-singleton pattern,
# predict.py:7,16-29 — read-only, loaded once per executor worker).
_RE_ANCHOR = re.compile(r"<a\b[^>]*>(.*?)</a>", re.IGNORECASE | re.DOTALL)
# Run-collapsed complements for COUNTING: len(x) after removing \s runs ==
# number of \S chars (exact complement, same regex unicode semantics), one
# sub call instead of a findall materializing a list of 1-char matches.
_RE_WS_RUNS = re.compile(r"\s+")
_RE_NON_ALNUM_RUNS = re.compile(r"[^0-9A-Za-z]+")


# Observability for the batched-kernel degrade path (G26 preserves
# correctness, but a SYSTEMATIC batched-path bug would silently cost the
# ~2.7x batching speedup everywhere): count every whole-batch fallback
# and warn once.  Scope: the counter is per PROCESS — on the driver /
# single-process oracle it is directly assertable (tests/
# test_batch_parity.py pins it at zero over the fixture corpus); in a
# distributed run each Python UDF worker warns once to its own stderr,
# which Spark surfaces in executor logs.
BATCH_FALLBACKS = 0


def note_batch_fallback(exc: BaseException) -> None:
    global BATCH_FALLBACKS
    BATCH_FALLBACKS += 1
    if BATCH_FALLBACKS == 1:
        try:
            warnings.warn(
                "batched extraction kernel failed for a whole batch "
                f"({type(exc).__name__}: {exc}); degrading to the scalar "
                "per-turn loop — correct but ~2.7x slower",
                RuntimeWarning,
                stacklevel=3,
            )
        except Exception:
            # under PYTHONWARNINGS=error the warn itself raises; the
            # fallback path must still run (G26), so never propagate
            pass


def _count_nonspace(s: str) -> int:
    return len(_RE_WS_RUNS.sub("", s))


def _count_alnum(s: str) -> int:
    return len(_RE_NON_ALNUM_RUNS.sub("", s))


# Output schema shared by oracle, batch job, and streaming sink.
OUTPUT_SCHEMA_DDL = (
    "conv_id string, turn_idx int, extracted_text string, "
    "spans array<struct<start:int,end:int,score:float,position:int>>, "
    "n_blocks_in int, n_blocks_kept int, status string"
)

STATUS_OK = "ok"
STATUS_EMPTY = "empty"
STATUS_ERROR = "error"


def _block_features(canon: str, blocks: list[Block]) -> dict[str, np.ndarray]:
    """Per-block feature extraction (G18), on each block's own slice.
    The definition the batched `_batched_block_features` must equal.

    density      = alnum chars / raw block length (the 'ink' fraction)
    link_density = anchor inner-text chars / visible non-space chars (G9)
    words        = whitespace-token count of visible text (G10)
    pos_frac     = block start / payload length (G8)
    """
    n = len(blocks)
    density = np.zeros(n, dtype=np.float64)
    link_density = np.zeros(n, dtype=np.float64)
    words = np.zeros(n, dtype=np.int64)
    vis_chars = np.zeros(n, dtype=np.int64)
    pos_frac = np.zeros(n, dtype=np.float64)
    total = max(len(canon), 1)
    for i, b in enumerate(blocks):
        raw = canon[b.start : b.end]
        vis = strip_tags(raw)
        nvis = _count_nonspace(vis)
        alnum = _count_alnum(vis)
        link_chars = sum(
            _count_nonspace(strip_tags(m.group(1)))
            for m in _RE_ANCHOR.finditer(raw)
        )
        vis_chars[i] = nvis
        density[i] = alnum / max(len(raw), 1)
        link_density[i] = link_chars / max(nvis, 1)
        words[i] = len(vis.split())
        pos_frac[i] = b.start / total
    return {
        "density": density,
        "link_density": link_density,
        "words": words,
        "vis_chars": vis_chars,
        "pos_frac": pos_frac,
    }


# Batched stage A works on runs of whole turns of at most this many
# characters; its per-run arrays take a few bytes per character.  A turn
# longer than this takes the per-block path on its own.
_CHUNK_CHARS = 1 << 18

# Character classes by code point.  str.isspace() is the predicate behind
# both `\s` in a str pattern and str.split(); it is false above U+3000, so
# higher code points are clipped onto the (false) U+3001 entry.
_CLASS_TOP = 0x3001
_WS_TABLE = np.fromiter(
    map(str.isspace, map(chr, range(_CLASS_TOP + 1))), bool, _CLASS_TOP + 1
)
_ALNUM_TABLE = np.zeros(_CLASS_TOP + 1, dtype=bool)
_ALNUM_TABLE[48:58] = _ALNUM_TABLE[65:91] = _ALNUM_TABLE[97:123] = True  # 0-9A-Za-z


def _char_classes(cp: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """(whitespace, ASCII alnum) masks of an array of code points."""
    if cp.dtype != np.uint8:
        cp = np.minimum(cp, _CLASS_TOP)
    return _WS_TABLE[cp], _ALNUM_TABLE[cp]


def _prefix(mask: np.ndarray) -> np.ndarray:
    """out[i] = mask[:i].sum(), for i in 0..len(mask)."""
    out = np.zeros(len(mask) + 1, dtype=np.int32)
    np.cumsum(mask, dtype=np.int32, out=out[1:])
    return out


def _tag_mask(cp: np.ndarray, bounds: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Where `strip_tags` would remove characters, run on each turn of the
    joined text (turn t is cp[bounds[t]:bounds[t+1]]).

    Returns (tag, cut): tag[i] is True inside a match; cut[i] (i up to
    len(cp)) is True when a match starts before i and ends at or after i,
    so a slice starting or ending at i would cut that match.  A match is
    a '<' up to the next '>' of its turn; the '<'s before one '>' form a
    single match, which opens at the first of them.
    """
    n = len(cp)
    lt = np.flatnonzero(cp == 60)
    if not len(lt):
        return np.zeros(n, dtype=bool), np.zeros(n + 1, dtype=bool)
    gt = np.flatnonzero(cp == 62)
    k = np.searchsorted(gt, lt)
    close = np.append(gt, n)[k]
    valid = close < bounds[np.searchsorted(bounds, lt, side="right")]
    opens = valid.copy()
    opens[1:] &= ~(valid[:-1] & (k[1:] == k[:-1]))
    lo, hi = lt[opens], close[opens]
    edge = np.zeros(n + 1, dtype=np.int8)
    edge[lo] = 1
    edge[hi + 1] -= 1
    tag = np.cumsum(edge[:n], dtype=np.int8).view(bool)
    cut = np.append(tag, False)
    cut[lo] = False
    return tag, cut


def _batched_block_features(
    canons: list[str], blocks_l: list[list[Block]]
) -> tuple[dict[str, np.ndarray], np.ndarray]:
    """`_block_features` of several turns from one pass over their joined
    text.  Returns the features of all blocks, concatenated in turn order,
    and the mask of turns that were routed to the per-block path.

    The per-character classes (whitespace, ASCII alnum, inside a tag) come
    from lookup tables and the '<'/'>' positions; int32 prefix sums over
    them give each block's visible non-space chars, alnum chars and words
    (whitespace -> non-whitespace edges of the visible stream) as
    differences of two sums.  Anchors are found once per turn that
    contains '<a' or '<A' and assigned to blocks by their start offset.

    `_block_features` strips tags and finds anchors within each block's
    slice (and strips tags within each anchor's inner text), so those
    agree with the whole-turn ones unless a slice cuts a match.  A turn
    takes the per-block path when a tag crosses one of its block edges,
    an anchor overlaps a block edge, or a tag crosses an anchor's inner
    edge.
    """
    n_turns = len(canons)
    text = "".join(canons)
    if text.isascii():
        cp = np.frombuffer(text.encode("ascii"), dtype=np.uint8)
    else:
        # surrogatepass: a lone surrogate (possible in a pandas input) is
        # one code point like any other
        cp = np.frombuffer(text.encode("utf-32-le", "surrogatepass"), np.uint32)
    lens = np.fromiter(map(len, canons), np.int64, n_turns)
    bounds = np.zeros(n_turns + 1, dtype=np.int64)
    np.cumsum(lens, out=bounds[1:])
    counts = np.fromiter(map(len, blocks_l), np.int64, n_turns)
    nb = int(counts.sum())
    flat = np.fromiter(
        chain.from_iterable(chain.from_iterable(blocks_l)), np.int64, 4 * nb
    ).reshape(nb, 4)
    turn_of = np.repeat(np.arange(n_turns), counts)
    bs = flat[:, 0] + bounds[turn_of]
    be = flat[:, 1] + bounds[turn_of]

    ws, alnum = _char_classes(cp)
    tag, cut = _tag_mask(cp, bounds)
    vis = ~tag
    c_vis = _prefix(vis)
    c_nw = _prefix(vis & ~ws)
    c_al = _prefix(vis & alnum)
    # words: the visible stream with tags squeezed out, where a word
    # starts at every non-space char after a space (or at the stream head)
    ws_v = ws[vis]
    word = ~ws_v
    word[1:] &= ws_v[:-1]
    mid_word = np.append(~ws_v & ~word, False)  # non-space after non-space
    c_word = _prefix(word)

    routed = np.zeros(n_turns, dtype=bool)
    routed[turn_of[cut[bs] | cut[be]]] = True

    link = np.zeros(nb, dtype=np.int64)
    found = []
    for t, c in enumerate(canons):
        if "<a" in c or "<A" in c:
            o = int(bounds[t])
            for m in _RE_ANCHOR.finditer(c):
                found += (o + m.start(), o + m.end(), o + m.start(1), o + m.end(1))
    if found and nb:
        a_lo, a_hi, i_lo, i_hi = np.array(found, dtype=np.int64).reshape(-1, 4).T
        k = np.searchsorted(bs, a_lo, side="right") - 1
        kc = np.maximum(k, 0)
        inside = (k >= 0) & (a_hi <= be[kc])
        nxt = np.minimum(k + 1, nb - 1)
        crossing = ~inside & (
            ((k >= 0) & (be[kc] > a_lo)) | ((k + 1 < nb) & (bs[nxt] < a_hi))
        )
        crossing |= cut[i_lo] | cut[i_hi]
        routed[np.searchsorted(bounds, a_lo[crossing], side="right") - 1] = True
        link = np.bincount(
            kc[inside], weights=(c_nw[i_hi] - c_nw[i_lo])[inside], minlength=nb
        ).astype(np.int64)

    nvis = (c_nw[be] - c_nw[bs]).astype(np.int64)
    v_lo, v_hi = c_vis[bs], c_vis[be]
    # a block's first visible char starts a word whatever precedes it
    words = c_word[v_hi] - c_word[v_lo] + (mid_word[v_lo] & (v_hi > v_lo))
    feats = {
        "density": (c_al[be] - c_al[bs]) / np.maximum(be - bs, 1),
        "link_density": link / np.maximum(nvis, 1),
        "words": words.astype(np.int64),
        "vis_chars": nvis,
        "pos_frac": flat[:, 0] / np.maximum(lens, 1)[turn_of],
    }
    first = np.zeros(n_turns + 1, dtype=np.int64)
    np.cumsum(counts, out=first[1:])
    for t in np.flatnonzero(routed):
        exact = _block_features(canons[t], blocks_l[t])
        for name, col in feats.items():
            col[first[t] : first[t + 1]] = exact[name]
    return feats, routed


def _chunks(sizes: list[int]):
    """(lo, hi) runs of consecutive turns of at most _CHUNK_CHARS chars in
    total; a longer turn is a run of its own."""
    lo, total = 0, 0
    for hi, size in enumerate(sizes):
        if hi > lo and total + size > _CHUNK_CHARS:
            yield lo, hi
            lo, total = hi, 0
        total += size
    if lo < len(sizes):
        yield lo, len(sizes)


def _envelope(
    extracted: str, spans: list, n_in: int, status: str
) -> dict[str, Any]:
    return {
        "extracted_text": extracted,
        "spans": spans,
        "n_blocks_in": n_in,
        "n_blocks_kept": len(spans),
        "status": status,
    }


def _error() -> dict[str, Any]:
    return _envelope("", [], 0, STATUS_ERROR)


def _prelude(text: Any) -> tuple[str, list[Block]] | dict[str, Any]:
    """Canonicalize (G1/G17) and segment (G6/G11) one payload.  Returns
    (canon, blocks), or the turn's final envelope when there is nothing
    to segment: error for a non-string, empty for a blank canonical text.
    Raises whatever canonicalize and segment raise (the caller isolates
    per turn, G26)."""
    if not isinstance(text, str):
        return _error()
    canon, _truncated = canonicalize(text)
    if not canon.strip():
        return _envelope("", [], 0, STATUS_EMPTY)
    return canon, segment(canon)


def _gates(cand: np.ndarray, feats: dict[str, np.ndarray]) -> np.ndarray:
    """G7-G10 geometric gates over the G3-G5 candidate mask (cheap-first
    ordering kept from the reference, predict.py:70-87 — Catalyst can't
    reorder inside a UDF)."""
    return (
        cand
        & (feats["vis_chars"] >= MIN_BLOCK_CHARS)
        & ~((feats["pos_frac"] > FOOTER_FRAC) & (feats["words"] < FOOTER_MAX_WORDS))
        & (feats["link_density"] <= LINK_DENSITY_MAX)
        & (feats["words"] >= MIN_WORDS)
    )


def _emit(
    canon: str, picks: list[tuple[Block, float]], n_in: int
) -> dict[str, Any]:
    """G13 pad each accepted (block, prob) within its raw bounds, G12
    merge across whitespace gaps, then the ordered emit (G23-G25)."""
    padded: list[tuple[int, int, float]] = []
    for b, p in picks:
        lo, hi = pad_span(canon, b.start, b.end, b.raw_start, b.raw_end)
        if lo < hi:
            padded.append((lo, hi, p))
    merged = merge_spans(canon, padded)
    spans = [
        {
            "start": int(s),
            "end": int(e),
            "score": float(np.float32(p)),
            "position": i + 1,
        }
        for i, (s, e, p) in enumerate(merged)
    ]
    extracted = "\n".join(canon[s:e] for s, e, _ in merged)
    status = STATUS_OK if spans else STATUS_EMPTY
    return _envelope(extracted, spans, n_in, status)


def _whole_turn(canon: str, n_in: int) -> dict[str, Any]:
    """G14 whole-turn fallback for a turn whose gates dropped every block
    (segmentation never returns "nothing"): score the whole stripped turn
    as one block.  One value has no Otsu split (otsu_split of it is
    always -1), so it scores against -1.  n_in stays the turn's own block
    count."""
    lo, hi = strip_bounds(canon, 0, len(canon))
    block = Block(lo, hi, 0, len(canon))
    feats = _block_features(canon, [block])
    scores = content_scores(quantize(feats["density"]), feats["link_density"], -1)
    accepted, prob = accept(scores)
    return _emit(canon, [(block, float(prob[0]))] if accepted[0] else [], n_in)


def extract_turn(text: Any) -> dict[str, Any]:
    """Extract main content from one turn payload.  Pure; never raises.

    Returns dict(extracted_text, spans, n_blocks_in, n_blocks_kept,
    status).  spans = list of {start, end, score, position} with 1-indexed
    positions (G23) over the canonical text; extracted_text is the
    ordered '\n'-join of span slices (G24).
    """
    try:
        pre = _prelude(text)
        if isinstance(pre, dict):
            return pre
        canon, blocks = pre
        feats = _block_features(canon, blocks)
        q_all = quantize(feats["density"])
        # G3/G4/G5: adaptive candidate mask + gap closing over the series.
        keep = _gates(close_gaps(adaptive_candidates(q_all)), feats)
        surv = np.flatnonzero(keep)
        if not len(surv):
            return _whole_turn(canon, len(blocks))
        # G15/G19-G22: score all surviving blocks as one matrix op (the
        # Otsu histogram is computed over ALL blocks of the turn for
        # stability).
        scores = content_scores(
            q_all[surv], feats["link_density"][surv], otsu_split(q_all)
        )
        accepted, prob = accept(scores)
        picks = [(blocks[surv[k]], float(prob[k])) for k in np.flatnonzero(accepted)]
        return _emit(canon, picks, len(blocks))
    except Exception:
        # G26: per-turn failure isolation (predict.py:298-299).
        return _error()


def _extract_batch_results(texts: list) -> list[dict[str, Any]]:
    """Cross-turn batched pipeline.  Result-identical to
    [extract_turn(t) for t in texts] (tests/test_batch_parity.py); each
    row's result depends only on its own blocks (row-purity: no
    batch-size effects).  Every step but the numeric one is the helper
    extract_turn calls.

    Stage A: `_prelude` per turn; block features per run of whole turns
    of at most _CHUNK_CHARS characters, from per-character class arrays
    (_batched_block_features).  A turn whose blocks cut a tag or an
    anchor, or that is longer than the bound, takes the per-block
    `_block_features` path instead.
    Stage B: the numeric stages (quantize, adaptive threshold, gates,
    Otsu, scoring) run once over the flat block arrays of the batch.
    Stage C: `_emit` per turn, or `_whole_turn` (G14) for a turn that
    lost every block.
    """
    n = len(texts)
    results: list = [None] * n
    canons: list = [None] * n
    blocks_l: list = [None] * n

    # --- stage A: canonicalize -> segment per turn ------------------------
    for i, text in enumerate(texts):
        try:
            pre = _prelude(text)
        except Exception:
            pre = _error()
        if isinstance(pre, dict):
            results[i] = pre
        else:
            canons[i], blocks_l[i] = pre

    active = [i for i in range(n) if results[i] is None]
    if not active:
        return results

    # --- stage A: block features per run of whole turns -------------------
    parts = []
    for lo, hi in _chunks([len(canons[i]) for i in active]):
        run = active[lo:hi]
        if len(canons[run[0]]) > _CHUNK_CHARS:
            parts.append(_block_features(canons[run[0]], blocks_l[run[0]]))
        else:
            parts.append(_batched_block_features(
                [canons[i] for i in run], [blocks_l[i] for i in run]
            )[0])
    feats = {name: np.concatenate([p[name] for p in parts]) for name in parts[0]}

    # --- stage B (batched over all blocks of all active turns) -----------
    active_lengths = np.fromiter(
        (len(blocks_l[i]) for i in active), np.int64, len(active)
    )
    starts = np.zeros(len(active), dtype=np.int64)
    np.cumsum(active_lengths[:-1], out=starts[1:])
    turn_ids = np.repeat(np.arange(len(active)), active_lengths)

    q_all = quantize(feats["density"])
    cand = adaptive_candidates_batch(q_all, starts, active_lengths)
    # G5 gap closing is a per-turn sequential scan over a tiny bool run
    for s, ln in zip(starts, active_lengths):
        if ln:
            cand[s : s + ln] = close_gaps(cand[s : s + ln])
    keep = _gates(cand, feats)
    otsu_t = otsu_split_batch(q_all, turn_ids, starts, active_lengths, len(active))
    surv_flat = np.nonzero(keep)[0]
    surv_turn = turn_ids[surv_flat]
    scores = content_scores(
        q_all[surv_flat], feats["link_density"][surv_flat], otsu_t[surv_turn]
    )
    accepted, prob = accept(scores)
    accepted_l = accepted.tolist()
    prob_l = prob.tolist()
    block_l = (surv_flat - starts[surv_turn]).tolist()

    # --- stage C (rowwise): pad / merge / emit, or the G14 fallback -------
    surv_bounds = np.searchsorted(surv_turn, np.arange(len(active) + 1)).tolist()
    for a, i in enumerate(active):
        canon, blocks = canons[i], blocks_l[i]
        lo_k, hi_k = surv_bounds[a], surv_bounds[a + 1]
        try:
            if lo_k == hi_k:
                results[i] = _whole_turn(canon, len(blocks))
            else:
                picks = [
                    (blocks[block_l[k]], prob_l[k])
                    for k in range(lo_k, hi_k)
                    if accepted_l[k]
                ]
                results[i] = _emit(canon, picks, len(blocks))
        except Exception:
            results[i] = _error()
    return results


def extract_results(texts: list) -> list[dict[str, Any]]:
    """extract_turn's result for every text, from the batched pipeline
    (_extract_batch_results).  If that fails as a whole it degrades to the
    scalar per-turn loop, preserving G26 per-turn failure isolation."""
    try:
        return _extract_batch_results(texts)
    except Exception as exc:
        note_batch_fallback(exc)
        return [extract_turn(t) for t in texts]


def extract_frame(pdf: pd.DataFrame) -> pd.DataFrame:
    """Run the pipeline over a batch of turns.

    Input columns: conv_id, turn_idx, text (extra columns ignored).
    Output columns: OUTPUT_SCHEMA_DDL.  This one function is both the
    single-process oracle and the body of the mapInPandas operator.
    """
    import pandas as pd

    results = extract_results(pdf["text"].tolist())
    return pd.DataFrame(
        {
            "conv_id": pdf["conv_id"].astype(str).values,
            "turn_idx": pdf["turn_idx"].astype("int32").values,
            "extracted_text": [r["extracted_text"] for r in results],
            "spans": [r["spans"] for r in results],
            "n_blocks_in": np.array(
                [r["n_blocks_in"] for r in results], dtype="int32"
            ),
            "n_blocks_kept": np.array(
                [r["n_blocks_kept"] for r in results], dtype="int32"
            ),
            "status": [r["status"] for r in results],
        }
    )
