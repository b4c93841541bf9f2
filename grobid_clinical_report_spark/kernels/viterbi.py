"""Batched linear-chain Viterbi decoder (SURVEY.md §2.4 L1).

The reference runs Wapiti CRF Viterbi decoding through JNI once per model per
zone (`AbstractParser.label`, call sites MedicalReportSegmenterParser.java:144,
HeaderMedicalParser.java:111, FullMedicalTextParser.java:139, MedicParser.java:96).
Its binary models are unavailable (private training data — README.md:143), so
sequence labeling is rebuilt as deterministic feature-driven emissions plus a
real linear-chain Viterbi decode in numpy, with transition/emission weights fit
offline against the fixture corpus (SURVEY.md §7.0).

Vectorization contract ("never per-row Python", BASELINE.json north_star):
sequences from a whole Arrow batch of documents are packed into
(n_seqs, max_len, n_labels) blocks; the only Python loop is over *time steps*
(bounded by the longest sequence in a block, not by row count). Docs are
grouped by length so one pathological 50k-line document doesn't force 50k
iterations on the ~120-line median docs (skew guardrails cap length
upstream — MedicalReportSegmenterParser.java:250-253 analogue).

Cost model: a block of B lanes, T steps and L labels costs T × (numpy calls
per step), each call paying ~1 µs of dispatch on top of its arithmetic.
There are two forward steps:

- the general O(L²) step: ~5 calls (fill a (B, L, L) scores buffer,
  argmax, one flat gather, emission add, backpointer write), B·L² cells;
- _step_structured, for column-structured transitions: O(B·L) cells but
  ~30 calls.

The step is picked per block by its size, not by the transition shape: a
block of at most _GENERAL_MAX_CELLS = B·L² cells takes the general step,
a wider column-structured block the structured one. A whale document
(B = 2, T ≈ 20k, L = 12) decodes at ~8 µs per step instead of ~30 µs,
while NER's thousands-of-lane blocks keep the O(L) step.
"""

from __future__ import annotations

import numpy as np

# viterbi_segments: lengths up to this decode dense (zero padding); longer
# segments decode in padded geometric buckets (see the docstring's cost
# model — the crossover is where per-length numpy call overhead on small
# (B, L) blocks outgrows the ≤2× padded-work bound of factor-2 buckets)
_DENSE_MAX_T = 64

# Step rule: blocks of at most this many B·L² cells take the general step
# even when the transitions are column-structured. Per-step A/B on padded
# blocks put the crossover between the two steps near 8k cells at L = 12
# (f32), 16 (f32) and 30 (int16).
_GENERAL_MAX_CELLS = 8192


def _acc_dtype(em_dtype: np.dtype) -> np.dtype:
    """DP accumulator dtype for a given emission dtype.

    Integer emissions (the NER kernel ships int16 doubled-weight scores for
    memory bandwidth) must NOT accumulate in int16: dp grows ~9-16 per token,
    so a single segment beyond ~2000-3600 tokens silently wraps int16 and
    decodes wrong labels. The DP runs in AT LEAST int32 — emission GATHERS
    stay int16 (that is where the bandwidth win lives; the (B, L) dp tensor
    is tiny), and int32 holds ~10^8 tokens of worst-case real emissions
    (2^31 / 16), far past any guardrail-passing document. promote_types
    (not a flat int32) so hypothetical int64 emissions keep their width
    instead of being narrowed into the same wrap bug one size up."""
    if np.issubdtype(em_dtype, np.integer):
        return np.promote_types(em_dtype, np.int32)
    return np.dtype(em_dtype)


def viterbi_segments(
    em: np.ndarray, starts: np.ndarray, transitions: np.ndarray
) -> np.ndarray:
    """Decode contiguous segments of ONE emission matrix.

    em: (N, L) — all tokens' emissions, segments contiguous; starts: segment
    start offsets (seg_starts form). Returns flat (N,) label indices aligned
    with em rows.

    Hybrid decode, picked per length, not per call (both regions of one
    sorted gather):

    - lengths ≤ _DENSE_MAX_T run DENSE: equal-length runs reshape into
      (B, T, L) blocks — zero padding, no mask. This is the token-model
      shape (millions of short per-line sequences, few distinct lengths);
      switching NER to it measured 14.5s → ~5s at local[32].
    - longer lengths run PADDED in greedy geometric buckets (factor-2
      growth, so padded work ≤ 2× the live work — see the cap comment
      below): the line-model shape (tens of thousands of ~50-400
      line documents, hundreds of DISTINCT lengths) would otherwise decode
      as thousands of tiny per-length numpy steps where call overhead
      dominates — measured 5.9s → 9.2s on the extraction cascade when
      everything ran dense. Buckets are built by one vectorized scatter.

    Each block then costs (its step count) × (numpy calls per step): the
    transition structure is probed once per call, and each block takes
    the ~5-call general step when B·L² ≤ _GENERAL_MAX_CELLS, else the
    ~30-call O(L) structured step if the matrix allows it (module
    docstring). Both steps take the max of the same sums dp[p] +
    trans[p, c] with first-index ties, so the choice never changes labels
    when those sums are exact: integer dtypes, or float matrices whose
    off-diagonal moves add exactly (every shipped matrix moves at 0).
    """
    n, n_lab = em.shape
    if n == 0:
        return np.zeros(0, dtype=np.int64)
    # adopt the caller's emission dtype end-to-end: a mixed f32-emissions /
    # f64-transitions DP silently promotes every step (measured 1.47s →
    # 2.02s on the corpus-NER segment set)
    transitions = np.asarray(transitions, dtype=em.dtype)
    move = _col_move(transitions)
    starts = np.asarray(starts, dtype=np.int64)
    lengths = np.diff(np.append(starts, n))
    order = np.argsort(lengths, kind="stable")
    s_starts = starts[order]
    s_lens = lengths[order]
    # gather index: rows of each sorted segment, concatenated
    ends = np.cumsum(s_lens)
    seg_of_row = np.repeat(np.arange(len(s_lens)), s_lens)
    intra = np.arange(n) - np.repeat(ends - s_lens, s_lens)
    gather = s_starts[seg_of_row] + intra
    em2 = em[gather]

    out_sorted = np.empty(n, dtype=np.int64)
    pos = 0
    seg0 = 0
    uniq, counts = np.unique(s_lens, return_counts=True)
    j = 0
    while j < len(uniq):
        t_len, k = int(uniq[j]), int(counts[j])
        if t_len == 0:
            seg0 += k  # zero-length segments sort first and emit no rows
            j += 1
            continue
        if t_len <= _DENSE_MAX_T:
            width = t_len * k
            block = em2[pos : pos + width].reshape(k, t_len, n_lab)
            out_sorted[pos : pos + width] = _decode(
                block, None, transitions, move
            ).ravel()
            pos += width
            seg0 += k
            j += 1
            continue
        # greedy geometric bucket: extend while padding waste stays ≤ 2×.
        # At line-model widths (B ≈ 50-150 docs, L ≈ 12, f32) a DP step's
        # numpy call overhead dominates its B×L arithmetic, so fewer,
        # taller buckets win: factor-2 growth (~5-10 buckets per batch)
        # measured ~15-20% faster than a 1.25 cap in both A/B run orders,
        # while still bounding worst-case padded work at 2× (one bucket
        # per batch would let a single long document pad everything).
        cap = 2 * t_len
        j2 = j
        while j2 + 1 < len(uniq) and uniq[j2 + 1] <= cap:
            j2 += 1
        k = int(counts[j : j2 + 1].sum())
        t_max = int(uniq[j2])
        width = int((uniq[j : j2 + 1] * counts[j : j2 + 1]).sum())
        rows = slice(pos, pos + width)
        local_seg = seg_of_row[rows] - seg0
        intra_b = intra[rows]
        pad = np.full((k, t_max, n_lab), _neg_sentinel(em.dtype), em.dtype)
        pad[local_seg, intra_b] = em2[rows]
        live = np.zeros((k, t_max), dtype=bool)
        live[local_seg, intra_b] = True
        labs = _decode(pad, live, transitions, move)
        out_sorted[rows] = labs[local_seg, intra_b]
        pos += width
        seg0 += k
        j = j2 + 1
    out = np.empty(n, dtype=np.int64)
    out[gather] = out_sorted
    return out


def _neg_sentinel(dtype: np.dtype):
    """A 'minus infinity' that survives a few additions without wrapping:
    integer emissions (the NER kernel ships doubled-weight int16 scores —
    half the memory traffic of f32 on a bandwidth-bound box) have no inf."""
    if np.issubdtype(dtype, np.integer):
        return np.iinfo(dtype).min >> 1
    return -np.inf


def _col_move(transitions: np.ndarray):
    """(move, scalar) for column-structured transitions, else (None, False).

    Column-structured: trans[p, c] == move[c] for every p != c — the max
    over predecessors then decomposes to max(top-other + move[c],
    dp[c] + diag[c]), O(L) per step instead of the O(L²) scores tensor.
    The sticky_transitions matrices are the constant-vector special case
    (`scalar` True keeps their best-other candidate at (B, 1) instead of
    materializing (B, L) — the NER hot loop); body_transitions is the
    genuine vector case (each label has its own entry cost)."""
    n_lab = transitions.shape[0]
    if n_lab < 2:
        return None, False
    probe = transitions.copy()
    idx = np.arange(n_lab)
    # overwrite the diagonal with another off-diagonal value from the same
    # column, then column-structure ⇔ every column is constant
    probe[idx, idx] = transitions[(idx + 1) % n_lab, idx]
    if not np.array_equiv(probe, probe[0:1, :]):
        return None, False
    move = probe[0].copy()
    return move, bool(np.all(move == move[0]))


# Row-tile budget for the general O(L²) step's (B, L, L) scores buffer.
# At serving scale (trained general transition matrices over a corpus) a
# full-batch buffer runs to hundreds of MB and every step streams it
# through memory three times (fill, argmax, gather); tiling rows so the
# buffer sits in cache turned a 32.7s sf0.1 trained-NER decode into the
# numbers in BENCH/TRAINER.md. Blocks on the structured step never tile —
# it materializes no (B, L, L) tensor to begin with.
_GENERAL_TILE_BYTES = 4 << 20


def _step_structured(dp, mv, scalar, diag, col, rows, neg):
    """One structured Viterbi step: (best_score, best_prev) before emission
    add / masking. Tie resolution replicates np.argmax's first-index rule.

    O(B·L) work but ~30 numpy calls, against the general step's B·L² work
    in ~5 calls: it only pays off on blocks wider than _GENERAL_MAX_CELLS
    (NER's thousands of lanes), where the arithmetic outweighs the calls.

    Materializes no (B, L) candidate tensors beyond the score update
    itself: the best/second-best predecessors are the top-2 of dp, every
    column's off-diagonal candidate is (m1, i1), and only the single i1
    column per row needs the (m2, i2) fallback — one fancy-index fix-up
    instead of three full `where` passes."""
    i1 = dp.argmax(axis=1)
    m1 = dp[rows, i1].copy()
    # top-2 via poke/restore: overwrite the winners in place, argmax again,
    # put the winners back — two (B,)-sized writes instead of a full (B, L)
    # copy per step (the copy dominated the step at line-model shapes,
    # B ≈ 50-150 · L = 12, where per-op overhead ≫ arithmetic)
    dp[rows, i1] = neg
    i2 = dp.argmax(axis=1).astype(np.int32)
    m2 = dp[rows, i2]
    dp[rows, i1] = m1
    self_val = dp + diag
    if scalar:
        m1b = (m1 + mv[0])[:, None]
        m2c = m2 + mv[0]
    else:
        m1b = m1[:, None] + mv[None, :]
        m2c = m2 + mv[i1]
    i1c = i1[:, None].astype(np.int32)
    take_self = (self_val > m1b) | ((self_val == m1b) & (col < i1c))
    best_prev = np.where(take_self, col, i1c)
    best = np.maximum(self_val, m1b)
    # per-row fix of the i1 column, where the off-diagonal candidate is
    # the runner-up (m2, i2) instead of (m1, i1)
    sv1 = self_val[rows, i1]
    ts1 = (sv1 > m2c) | ((sv1 == m2c) & (i1 < i2))
    best_prev[rows, i1] = np.where(ts1, i1.astype(np.int32), i2)
    best[rows, i1] = np.maximum(sv1, m2c)
    return best, best_prev


def _decode(
    emis: np.ndarray, mask: np.ndarray | None, transitions: np.ndarray, move
) -> np.ndarray:
    """Batched Viterbi over a (B, T, L) block → (B, T) labels.

    mask None: a dense block, every lane live for all T steps. Otherwise
    mask (B, T) marks the live cells of a padded block (each lane a live
    prefix); padding lanes neither move dp nor write backpointers, and
    padding positions of the result hold arbitrary values (callers gather
    only live cells). move is _col_move(transitions); the step follows
    the B·L² rule (module docstring). Ties resolve to the first
    predecessor index (np.argmax's rule) on both steps."""
    b, max_t, n_lab = emis.shape
    mv, scalar = move
    structured = mv is not None and b * n_lab * n_lab > _GENERAL_MAX_CELLS
    acc = _acc_dtype(emis.dtype)
    # general-step blocks decode in row tiles (rows are independent;
    # bit-identical to the unsplit decode, and a tile's shortest lane only
    # ever masks fewer steps) so the per-step scores buffer stays
    # cache-resident — see _GENERAL_TILE_BYTES
    if not structured:
        tile = max(256, _GENERAL_TILE_BYTES // (n_lab**2 * acc.itemsize))
        if b > tile:
            out = np.empty((b, max_t), dtype=np.int64)
            for lo in range(0, b, tile):
                sub = None if mask is None else mask[lo : lo + tile]
                out[lo : lo + tile] = _decode(
                    emis[lo : lo + tile], sub, transitions, move
                )
            return out
    if mask is None:
        last_t = None
        min_len = max_t
        # Dense int16 emissions: dp may keep the narrow int16 dtype ONLY
        # when a per-block bound proves it cannot wrap — |dp| ≤ max_t ·
        # (max|em| + max|trans|), checked against the sentinel headroom
        # (2^14). Dense blocks are ≤64 steps (the NER corpus shape), so the
        # check almost always passes and the int16 dp bandwidth win is
        # kept; blocks that could overflow accumulate in int32
        # (_acc_dtype). The bound costs two allocation-free reduction
        # passes over a block about to be read max_t times.
        if emis.dtype == np.int16:
            per_step = max(int(emis.max()), -int(emis.min()), 0) + max(
                int(np.max(transitions)), -int(np.min(transitions)), 0
            )
            if max_t * per_step < (1 << 14) - 64:
                acc = emis.dtype
    else:
        last_t = mask.sum(axis=1) - 1
        # steps below the shortest live length need no masking: every lane
        # is alive. Factor-2 buckets guarantee min_len ≥ max_t/2, and
        # equal-length blocks (the whale documents) mask no step at all.
        min_len = int(last_t.min()) + 1
    # transitions and dp in the accumulator dtype; emission gathers keep
    # the caller's dtype
    transitions = np.asarray(transitions, dtype=acc)
    dp = emis[:, 0, :].astype(acc, copy=True)  # (B, L)
    # int8 backpointers when labels fit (all current models: L ≤ 27):
    # back is the largest tensor the DP touches ((B, T, L), written every
    # step, read back once) — quartering its bytes matters on a
    # bandwidth-bound box. Values are label indices < 128; identical.
    back = np.empty(
        (b, max_t, n_lab), dtype=np.int8 if n_lab <= 127 else np.int32
    )

    if structured:
        diag = np.diag(transitions)[None, :]  # (1, L)
        col = np.arange(n_lab, dtype=np.int32)[None, :]
        rows = np.arange(b)
        neg = _neg_sentinel(acc)

        def step(dp):
            return _step_structured(dp, mv, scalar, diag, col, rows, neg)

    else:
        # general O(L²) step: preallocated scores buffer in (B, dest, prev)
        # layout — argmax runs over the CONTIGUOUS last axis, ~25% faster
        # than the strided middle-axis argmax with an identical
        # first-predecessor tie-break — and a flat gather of the winners
        # (half the cost of a 3-index fancy gather at B = 2; faster than
        # a second max pass over scores).
        trans_t = np.ascontiguousarray(transitions.T)[None, :, :]
        scores = np.empty((b, n_lab, n_lab), dtype=acc)
        flat = scores.reshape(-1)
        base = (np.arange(b * n_lab) * n_lab).reshape(b, n_lab)

        def step(dp):
            np.add(dp[:, None, :], trans_t, out=scores)
            best_prev = scores.argmax(axis=2)  # (B, L)
            return flat[base + best_prev], best_prev

    for t in range(1, max_t):
        best, best_prev = step(dp)
        ndp = best + emis[:, t, :]
        if t < min_len:
            dp = ndp
            back[:, t, :] = best_prev
            continue
        alive = mask[:, t, None]
        dp = np.where(alive, ndp, dp)
        back[:, t, :] = np.where(alive, best_prev, 0)

    # backtrace, batched across lanes (the loop is over time steps only).
    # Above the shortest lane's end a lane that has already ended carries
    # its final label back unchanged; below it every lane is live and the
    # chase is one gather per step.
    labels = np.empty((b, max_t), dtype=np.int64)
    cur = dp.argmax(axis=1)
    labels[:, max_t - 1] = cur
    rows = np.arange(b)
    for t in range(max_t - 1, 0, -1):
        prev = back[rows, t, cur]
        cur = prev if t < min_len else np.where(last_t >= t, prev, cur)
        labels[:, t - 1] = cur
    return labels
