"""Driver-side, single-threaded pass of the extraction kernel over a
workload's texts: the NER pass then the ragged relation pass, as the fused
extraction operator runs them, timed per public `kernel` function.

This measures the kernel without tracing inside the Arrow UDF. Chunks are
length-sorted and sized to the operator's dense working-set budget, so
`pad_ratio` is the padding that policy leaves on this workload's length mix.
"""

from __future__ import annotations

import time

import numpy as np

from gliner_spark.config import DEFAULT, PipelineConfig
from gliner_spark.kernel.decode import decode_batch
from gliner_spark.kernel.scorer import HashedBiEncoder
from gliner_spark.kernel.tokenizer import prep_tokens
from gliner_spark.operators.relations import relation_labels_for

# the extraction operators' per-chunk budget: B * Lmax * K * (dim + C) floats
CHUNK_BUDGET = 6_000_000


def chunks(lengths: list[int], n_labels: list[int], width: int, dim: int):
    """Greedy [lo, hi) runs over rows already sorted for packing."""
    lo, n = 0, len(lengths)
    while lo < n:
        hi, lmax, cmax = lo, 1, 1
        while hi < n:
            lm, cm = max(lmax, lengths[hi]), max(cmax, n_labels[hi])
            if (hi - lo + 1) * lm * width * (dim + cm) > CHUNK_BUDGET and hi > lo:
                break
            lmax, cmax, hi = lm, cm, hi + 1
        yield lo, hi
        lo = hi


def _valid_spans(n_tok: int, width: int) -> int:
    """(start, width) cells that fit inside a row of n_tok tokens."""
    k = min(width, n_tok)
    return n_tok * k - k * (k - 1) // 2


def _above(probs: np.ndarray, lengths: np.ndarray, thr: float,
           n_labels: np.ndarray | None = None) -> int:
    """Above-threshold cells among the valid (row, start, width, label)
    cells: the candidates decode chooses from."""
    _b, s, k, c = probs.shape
    valid = (np.arange(s)[None, :, None] + np.arange(k)[None, None, :] + 1
             <= lengths[:, None, None])
    hit = (probs > thr) & valid[..., None]
    if n_labels is not None:
        hit &= np.arange(c)[None, None, None, :] < n_labels[:, None, None, None]
    return int(np.count_nonzero(hit))


class _Pass:
    """Accumulates timings and cell counts over the chunks of one pass."""

    def __init__(self):
        self.score_s = self.decode_s = 0.0
        self.padded = self.real = self.above = self.kept = 0


def microrun(texts: list[str], entity_types: list[str], relations: list[str],
             cfg: PipelineConfig = DEFAULT) -> dict:
    """Per-turn kernel times (µs) and the padding / kept-span ratios."""
    scorer = HashedBiEncoder(cfg.scorer)
    width, dim = cfg.max_width, scorer.cfg.dim
    labels = list(dict.fromkeys(entity_types))
    label_mat = scorer.encode_labels(labels)

    t0 = time.perf_counter()
    prepped = [prep_tokens(t, cfg.max_len, cfg.tokenizer) for t in texts]
    tokenize_s = time.perf_counter() - t0

    ner, per_row = _Pass(), [None] * len(texts)
    lengths = [len(p[0]) for p in prepped]
    order = sorted(range(len(texts)), key=lambda i: lengths[i])
    for lo, hi in chunks([lengths[i] for i in order], [len(labels)] * len(order),
                         width, dim):
        idx = order[lo:hi]
        lens = np.asarray([lengths[i] for i in idx], dtype=np.int64)
        t0 = time.perf_counter()
        ids, _ = scorer.ids_matrix([prepped[i][0] for i in idx])
        probs = scorer.score_batch(ids, label_mat, width)
        t1 = time.perf_counter()
        decoded = decode_batch(probs, lens, cfg.ner_threshold,
                               flat_ner=cfg.flat_ner, multi_label=cfg.multi_label)
        ner.decode_s += time.perf_counter() - t1
        ner.score_s += t1 - t0
        ner.padded += probs.size
        ner.real += sum(_valid_spans(n, width) for n in lens) * len(labels)
        ner.above += _above(probs, lens, cfg.ner_threshold)
        for bi, i in enumerate(idx):
            toks, starts, ends = prepped[i]
            ner.kept += len(decoded[bi])
            per_row[i] = [texts[i][starts[s]:ends[e]] for s, e, _c, _sc in decoded[bi]]

    # relation pass: prompt = prefix + text, one composite label list per row
    prefix = f"{cfg.re_prompt} \n "
    p_toks = prep_tokens(prefix, cfg.max_len, cfg.tokenizer)[0]
    row_labels = [relation_labels_for(ents, relations) for ents in per_row]
    # an empty turn contributes no tokens after the prefix, as in the operator
    prompt_toks = [(p_toks + p[0] if t.strip() else p_toks)[: cfg.max_len]
                   for t, p in zip(texts, prepped)]
    counts = [len(ls) for ls in row_labels]
    plens = [len(t) for t in prompt_toks]
    order = sorted((i for i in range(len(texts)) if counts[i]),
                   key=lambda i: (counts[i], plens[i]))
    rel = _Pass()
    for lo, hi in chunks([plens[i] for i in order], [counts[i] for i in order],
                         width, dim):
        idx = order[lo:hi]
        lens = np.asarray([plens[i] for i in idx], dtype=np.int64)
        n_lab = np.asarray([counts[i] for i in idx], dtype=np.int64)
        t0 = time.perf_counter()
        ids, _ = scorer.ids_matrix([prompt_toks[i] for i in idx])
        mats = [scorer.encode_labels(row_labels[i]) for i in idx]
        probs = scorer.score_batch_ragged(ids, mats, width)
        t1 = time.perf_counter()
        decoded = decode_batch(probs, lens, cfg.rel_threshold,
                               flat_ner=cfg.flat_ner, multi_label=cfg.multi_label,
                               n_labels=n_lab)
        rel.decode_s += time.perf_counter() - t1
        rel.score_s += t1 - t0
        rel.padded += probs.size
        rel.real += sum(_valid_spans(n, width) * c for n, c in zip(lens, n_lab))
        rel.above += _above(probs, lens, cfg.rel_threshold, n_lab)
        rel.kept += sum(len(d) for d in decoded)

    n = max(len(texts), 1)
    us = 1e6 / n
    return {
        "tokenize_us_per_turn": tokenize_s * us,
        "score_us_per_turn": ner.score_s * us,
        "score_ragged_us_per_turn": rel.score_s * us,
        "decode_us_per_turn": (ner.decode_s + rel.decode_s) * us,
        "pad_ratio": (ner.padded + rel.padded) / max(ner.real + rel.real, 1),
        "kept_ratio": (ner.kept + rel.kept) / max(ner.above + rel.above, 1),
        # the NER pass alone, for the UDF-boundary estimate
        "ner_us_per_turn": (tokenize_s + ner.score_s + ner.decode_s) * us,
    }
