"""Balanced split: distributed statistics + driver-side greedy assignment.

Re-expresses reference ``lours/dataset/split/``:

- per-chunk histograms over the balance dimensions (reference
  ``balanced_groups.py:286-317`` ``df_to_hist``) — computed DISTRIBUTED
  with one ``groupBy(chunk_id, *dims).count()``; only the tiny
  (chunks × bins) table is collected;
- histogram distances: the reference's multimodal
  :func:`hist_distance` — per-categorical-dim marginal KL
  (``balanced_groups.py:252-262``) plus per-category-cell
  value-spaced EMD for binned continuous dims (``:264-272``; exact
  closed form for 1D — the reference's POT dependency is only needed
  for multi-dim ground metrics, which it never uses). The GREEDY
  optimizes a smooth size-weighted joint-KL surrogate instead (see
  :func:`hist_distance`'s note); the faithful formula is what quality
  reporting should quote;
- share distance = 1 − IoU of split-size histograms (``:320-344``);
- greedy chunk assignment minimizing ``hist_cost_weight · Σdist +
  share_cost_weight · share_dist`` (reference ``get_winner``
  ``dataset_splitter.py:21-129``) — a sequential driver loop by
  design (each decision depends on all previous ones).

The driver loop touches only chunk-level histograms: at 100 TB with
10⁶ chunks × 100 bins this is ~100 MB of driver state — acceptable; the
heavy data never leaves the executors.
"""

from __future__ import annotations

import math
import random
from collections import defaultdict

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T


def _hists_from_table(pdf, chunk_col: str, dims: list[str]):
    """Sparse (chunk, bins..., n) pandas table → dict-of-dicts
    histograms (chunk → bin-tuple → count). Handles Categorical dim
    columns (the Arrow ``strings_to_categorical`` transfer) the same as
    plain object columns."""
    out: dict[int, dict[tuple, int]] = defaultdict(dict)
    chunk_vals = pdf[chunk_col].tolist()
    # NULL bins must stay None (NaN breaks bin-key equality across chunks)
    dim_cols = [
        pdf[d].astype(object).where(pdf[d].notna(), None).tolist() for d in dims
    ]
    n_vals = pdf["n"].tolist()
    for i, cid in enumerate(chunk_vals):
        out[cid][tuple(c[i] for c in dim_cols)] = n_vals[i]
    return dict(out)


def chunk_histograms(
    df: DataFrame, chunk_col: str, dims: list[str]
) -> dict[int, dict[tuple, int]]:
    """Distributed per-chunk histogram over the balance dims; collects
    the sparse (chunk, bin) → count table."""
    pdf = (
        df.groupBy(chunk_col, *dims)
        .agg(F.count(F.lit(1)).alias("n"))
        .toPandas()  # Arrow transfer: ~10x faster than Row collect()
    )
    return _hists_from_table(pdf, chunk_col, dims)


def chunk_histogram_table(df: DataFrame, chunk_col: str, dims: list[str]):
    """The sparse (chunk, bins..., n) table as a pandas frame — the
    same distributed aggregation as :func:`chunk_histograms` without
    the driver-side dict-of-dicts build (a python loop over every
    (chunk × bin) row, ~1s/750k rows — the approximate mode consumes
    arrays, so it factorizes this frame directly instead)."""
    agg = df.groupBy(chunk_col, *dims).agg(F.count(F.lit(1)).alias("n"))
    # toArrow() transfers in Arrow batches regardless of the session's
    # spark.sql.execution.arrow.pyspark.enabled — toPandas() silently
    # falls back to row-at-a-time collect (~10x slower at 500k+ rows)
    # when a caller-built session lacks the flag
    if hasattr(agg, "toArrow"):
        # strings_to_categorical: dim columns land as Categorical
        # (integer codes + tiny dictionary) instead of millions of
        # python string objects — factorize consumes either
        return agg.toArrow().to_pandas(strings_to_categorical=True)
    return agg.toPandas()


def _bin_sort_key(k: tuple):
    """Total order over bin-label tuples that may mix None, strings and
    numbers — (is-null, type-name, str) per element never compares
    across python types, so ``sorted`` is safe on any collected dim mix.

    >>> sorted([("b", 2), (None, 1), ("a", 10)], key=_bin_sort_key)
    [('a', 10), ('b', 2), (None, 1)]
    """
    return tuple(
        (e is None, type(e).__name__, str(e)) for e in k
    )


def _approx_assignment_from_table(
    pdf, chunk_col: str, dims: list[str], shares: dict[str, float], seed: int
):
    """Vectorized (chunk, bins, n) table → assignment FRAME: factorize
    chunk ids and bin tuples to dense codes, scatter counts into the
    (n × K) matrix, delegate to the array core. Returns a pandas frame
    (chunk_col, __assigned) — no per-row python loop and no
    size-of-chunk-count python dict; the caller ships it back through
    Arrow ``createDataFrame``."""
    import numpy as np
    import pandas as pd

    if len(pdf) == 0:
        return pd.DataFrame({chunk_col: [], "__assigned": []})

    def _value_sorted(col):
        # factorize(sort=True) on a Categorical sorts by CATEGORY
        # order, not value — and the Arrow strings_to_categorical
        # dictionary order is partition/collect-order dependent, so
        # category order must be normalized to value order first or
        # the same seed splits differently across partitionings
        if isinstance(col.dtype, pd.CategoricalDtype):
            cats = col.cat.categories
            if not cats.is_monotonic_increasing:
                col = col.cat.reorder_categories(cats.sort_values())
        return col

    chunk_codes, chunk_vals = pd.factorize(
        _value_sorted(pdf[chunk_col]), sort=True
    )
    # combine per-dim codes into one bin index (strided mixed radix);
    # use_na_sentinel=False keeps NULL bins as their own code
    bin_codes = np.zeros(len(pdf), dtype=np.int64)
    # sort=True everywhere: code values must not depend on row
    # appearance order (Spark collect order is not stable), because the
    # bin index feeds the seeded bucket hash in _assign_approx_arrays —
    # unsorted factorize made the same seed produce different splits
    # across runs of the same data
    for d in dims:
        c, u = pd.factorize(
            _value_sorted(pdf[d]), use_na_sentinel=False, sort=True
        )
        bin_codes = bin_codes * max(1, len(u)) + c
    if len(dims) > 1:
        # re-densify the mixed-radix codes (most combinations are empty)
        bin_codes, _ = pd.factorize(bin_codes, sort=True)
    K = int(bin_codes.max()) + 1
    n = len(chunk_vals)
    # dense (n × K) scatter via flat bincount — ~3x faster than
    # np.add.at's unbuffered fancy-index accumulate at 10⁷+ table rows
    # (the driver-side hot spot at millions of chunks). Flat keys are
    # built in-place: each extra table-rows-length temporary costs a
    # first-touch page-fault pass that dominates arithmetic on VM hosts
    flat = chunk_codes * np.int64(K)
    flat += bin_codes
    H = np.bincount(
        flat, weights=pdf["n"].to_numpy(np.float64), minlength=n * K
    ).reshape(n, K)
    del flat
    assign, splits = _assign_approx_arrays(
        list(range(n)), H, shares, seed=seed, _raw=True
    )
    return pd.DataFrame(
        {
            chunk_col: np.asarray(chunk_vals),
            # small-object fancy index, not Categorical.astype(str):
            # the latter materializes a fresh python string per row
            "__assigned": np.asarray(list(splits), dtype=object)[assign],
        }
    )


def emd_1d_values(left: dict, right: dict, weight: float = 1.0) -> float:
    """Exact 1D earth-mover distance with VALUE-spaced bin positions
    and the reference's max-normalized cityblock ground metric
    (``balanced_groups.py:9-67``: positions = bin value × weight,
    ``dist(..., 'cityblock') / max``): cumulative-difference sum over
    the sorted union of positions, divided by the position range.

    >>> emd_1d_values({0.0: 1}, {10.0: 1})          # full range apart
    1.0
    >>> round(emd_1d_values({0.0: 1, 10.0: 1}, {0.0: 1, 5.0: 1}), 3)
    0.25
    >>> emd_1d_values({1.0: 3}, {}) == float("inf")
    True
    """
    ls = sum(left.values())
    rs = sum(right.values())
    if ls == 0 or rs == 0:
        return float("inf")
    pos = sorted({float(k) * weight for k in left} | {float(k) * weight for k in right})
    rng = pos[-1] - pos[0]
    if rng == 0:
        return 0.0
    lmap = {float(k) * weight: v / ls for k, v in left.items()}
    rmap = {float(k) * weight: v / rs for k, v in right.items()}
    cum = 0.0
    total = 0.0
    for a, b in zip(pos, pos[1:]):
        cum += lmap.get(a, 0.0) - rmap.get(a, 0.0)
        total += abs(cum) * (b - a)
    return total / rng


def hist_distance(
    left: dict,
    right: dict,
    dims: list[str],
    continuous: "tuple[str, ...] | list[str]" = (),
    weights: "dict[str, float] | None" = None,
) -> float:
    """The reference's multimodal histogram distance, faithfully
    (``balanced_groups.py:120-283``): ``‖α‖·Σ α_d·KL(left_d ‖ right_d)``
    over per-CATEGORICAL-dim marginals (scipy-``entropy`` semantics:
    marginals normalized independently, a right-zero bin with left
    mass → inf, and an EMPTY side → inf outright) plus
    ``‖β‖ · Σ_cells P_left(cell)·EMD(left_cell, right_cell)`` over the
    continuous dims, each cell's EMD value-spaced and max-normalized
    (:func:`emd_1d_values`). ``left`` plays the reference's
    ``target_hist`` role, ``right`` the split histogram.

    ``dims`` names the histogram key-tuple positions; ``continuous``
    marks which of them are binned-continuous (at most ONE — the
    reference needs POT only for multi-dim ground metrics it never
    uses; more than one raises). ``weights`` maps dim → α/β (default
    1.0).

    NOTE on the greedy: :func:`greedy_assign` deliberately optimizes a
    SURROGATE cost — size-weighted joint-bin KL(split ‖ global) with
    eps smoothing — not this exact formula. The reference cost is
    infinite until every split covers every bin (so early decisions
    are share-driven plateaus), while the surrogate gives a smooth,
    always-finite gradient toward the global mix; both drive the split
    marginals to the corpus marginals. Use THIS function when you need
    the reference's number for a computed split (quality reporting),
    not the assignment heuristic.

    >>> hist_distance({("a",): 5, ("b",): 5}, {("a",): 3, ("b",): 3},
    ...               ["cat"])
    0.0
    >>> hist_distance({("a",): 5, ("b",): 5}, {("a",): 6}, ["cat"])
    inf
    >>> d = hist_distance({("a",): 8, ("b",): 2}, {("a",): 5, ("b",): 5},
    ...                   ["cat"])
    >>> round(d, 6)  # KL([.8,.2] || [.5,.5])
    0.192745
    """
    continuous = tuple(continuous)
    if len(continuous) > 1:
        raise NotImplementedError(
            "multi-dimensional continuous ground metrics need POT "
            "(reference balanced_groups.py:9); the reference only ever "
            "uses one continuous dim — bin and pass one"
        )
    weights = weights or {}
    ls = sum(left.values())
    rs = sum(right.values())
    if ls == 0 or rs == 0:
        return float("inf")

    cat_dims = [d for d in dims if d not in continuous]
    cat_w = [float(weights.get(d, 1.0)) for d in cat_dims]
    kl_div = 0.0
    for d, w in zip(cat_dims, cat_w):
        di = dims.index(d)
        lm: dict = {}
        rm: dict = {}
        for k, v in left.items():
            lm[k[di]] = lm.get(k[di], 0) + v
        for k, v in right.items():
            rm[k[di]] = rm.get(k[di], 0) + v
        kl = 0.0
        for key in set(lm) | set(rm):
            pk = lm.get(key, 0) / ls
            qk = rm.get(key, 0) / rs
            if pk > 0:
                if qk == 0:
                    kl = float("inf")
                    break
                kl += pk * math.log(pk / qk)
        kl_div += w * kl

    emd = 0.0
    cont_norm = 0.0
    if continuous:
        c = continuous[0]
        ci = dims.index(c)
        cw = float(weights.get(c, 1.0))
        cont_norm = abs(cw)
        cat_idx = [dims.index(d) for d in cat_dims]
        if cat_idx:
            cells: dict = {}
            for k, v in left.items():
                cell = tuple(k[i] for i in cat_idx)
                cells.setdefault(cell, [{}, {}])[0].setdefault(k[ci], 0)
                cells[cell][0][k[ci]] += v
            for k, v in right.items():
                cell = tuple(k[i] for i in cat_idx)
                cells.setdefault(cell, [{}, {}])[1].setdefault(k[ci], 0)
                cells[cell][1][k[ci]] += v
            num = 0.0
            den = 0.0
            for lcell, rcell in cells.values():
                lc = sum(lcell.values())
                if lc == 0:
                    continue  # reference: left-weight 0 cell drops
                num += lc * emd_1d_values(lcell, rcell, cw)
                den += lc
            emd = num / den if den else 0.0
        else:
            lm = {}
            rm = {}
            for k, v in left.items():
                lm[k[ci]] = lm.get(k[ci], 0) + v
            for k, v in right.items():
                rm[k[ci]] = rm.get(k[ci], 0) + v
            emd = emd_1d_values(lm, rm, cw)

    cat_norm = math.sqrt(sum(w * w for w in cat_w)) if cat_w else 0.0
    return cat_norm * kl_div + cont_norm * emd


def kl_divergence(p: dict, q: dict, eps: float = 1e-12) -> float:
    """KL(p ‖ q) over sparse histograms (normalized, eps-smoothed).

    >>> round(kl_divergence({"a": 5, "b": 5}, {"a": 5, "b": 5}), 9)
    0.0
    >>> kl_divergence({"a": 10}, {"a": 5, "b": 5}) > 0
    True
    """
    keys = set(p) | set(q)
    sp = sum(p.values()) or 1.0
    sq = sum(q.values()) or 1.0
    kl = 0.0
    for k in keys:
        pk = p.get(k, 0) / sp + eps
        qk = q.get(k, 0) / sq + eps
        kl += pk * math.log(pk / qk)
    return kl


def emd_1d(p: dict, q: dict) -> float:
    """Exact 1D earth-mover distance between normalized histograms whose
    keys are orderable bin labels: cumulative-difference sum.

    Bins are positions in the sorted key sequence (adjacent-step
    ground metric), matching the reference's unit-spaced bins:

    >>> emd_1d({1: 1}, {3: 1})
    1.0
    >>> emd_1d({1: 1, 2: 1}, {1: 1, 2: 1})
    0.0
    """
    keys = sorted(set(p) | set(q), key=lambda x: (x is None, x))
    sp = sum(p.values()) or 1.0
    sq = sum(q.values()) or 1.0
    cum = 0.0
    total = 0.0
    for k in keys:
        cum += p.get(k, 0) / sp - q.get(k, 0) / sq
        total += abs(cum)
    return total


def share_distance(sizes: dict[str, float], targets: dict[str, float]) -> float:
    """1 − IoU of the normalized share histograms (reference
    ``balanced_groups.py:320-344``).

    >>> share_distance({"t": 80, "v": 20}, {"t": 0.8, "v": 0.2})
    0.0
    >>> round(share_distance({"t": 100}, {"t": 0.5, "v": 0.5}), 3)
    0.667
    """
    s = sum(sizes.values()) or 1.0
    inter = sum(min(sizes.get(k, 0) / s, targets.get(k, 0)) for k in targets)
    union = sum(max(sizes.get(k, 0) / s, targets.get(k, 0)) for k in targets)
    return 1.0 - (inter / union if union else 0.0)


def greedy_assign(
    hists: dict[int, dict[tuple, int]],
    target_shares: dict[str, float],
    seed: int = 0,
    hist_cost_weight: float = 1.0,
    share_cost_weight: float = 1.0,
    preassigned: dict[int, str] | None = None,
    shuffle: str = "python",
    polish: bool | None = None,
) -> dict[int, str]:
    """Sequential greedy chunk→split assignment minimizing combined
    histogram-KL + share cost (reference ``dataset_splitter.py:299-580``).
    Deterministic for a given seed.

    ``shuffle`` picks the chunk visit order:

    - ``"python"`` (default): ``random.Random(seed).shuffle`` over the
      sorted chunk ids — bit-parity with the reference's
      ``seed(input_seed); shuffle(atomic_chunks)``
      (``dataset_splitter.py:519-520``), but the Mersenne-Twister
      permutation is not replicable outside python.
    - ``"portable"``: visit chunks ordered by
      ``md5(f"{seed}:{chunk_id}")`` hex digest (ties → ``str(chunk_id)``).
      The whole assignment is then a pure function of the collected
      histograms that ANY engine can replicate — ``md5`` + an ordered
      fold is all it takes (the correctness gate's DuckDB oracle
      replays this loop as a recursive CTE, see
      ``suite._oracle_balanced_portable``). Same distributional quality:
      an md5 of seed+id is as uniform a permutation as the Twister's.

    ``polish`` enables the move/swap local-improvement passes that run
    AFTER the greedy loop. Default (``None``) resolves to ``True`` for
    ``shuffle="python"`` and ``False`` for ``"portable"``: the
    reference's greedy (``dataset_splitter.py:542-564``) has no polish
    phase either, and the polish's first-improvement schedule (strided
    swap candidates) is python-specific — keeping it out of the
    portable mode is what keeps that mode oracle-replicable.

    Driver-side but FLAT and INCREMENTAL: histograms live as dense
    per-bin lists over the global bin index, so each trial cost is one
    K-length loop of float math — no dict unions, no per-call array
    allocation (numpy's per-call overhead on the tiny K≈5-100 bins of
    real balance dims costs more than the arithmetic; measured: dict
    form 10.2s, numpy form 5.0s, flat form <1s at 15k chunks). On top
    of that, per-split KL values are CACHED and only recomputed for
    the (one or two) splits an assignment/move/swap actually touches —
    trial costs never rebuild untouched splits. Histogram entries are
    integer counts (exact in float64), so every cached value equals
    the from-scratch recomputation bit-for-bit: same eps smoothing,
    same visit order, same first-improvement polish, identical
    assignments to the non-incremental form (asserted by
    tests/test_split.py parity test).
    """
    from math import log

    splits = list(target_shares)
    S = len(splits)
    eps = 1e-12

    # global bin index, SORTED like the approximate mode's: bin order
    # only enters through float summation order in the KL loops (the
    # cost is permutation-invariant in exact arithmetic), but an
    # insertion-order index would inherit the Spark collect order —
    # last-ulp KL differences could then flip a near-tie decision
    # between runs of the same data. Sorting makes the whole split
    # subsystem collect-order-independent.
    seen = set()
    for h in hists.values():
        seen.update(h)
    keys = sorted(seen, key=_bin_sort_key)
    K = max(1, len(keys))
    kidx = {k: i for i, k in enumerate(keys)}
    G = [0.0] * K
    hvec: dict[int, list] = {}
    for cid, h in hists.items():
        v = [0.0] * K
        for k, n in h.items():
            v[kidx[k]] = float(n)
        hvec[cid] = v
        for j in range(K):
            G[j] += v[j]
    gs = sum(G) or 1.0
    gq = [G[j] / gs + eps for j in range(K)]
    log_gq = [log(x) for x in gq]

    # normalize like the approximate mode: count-style shares
    # ({"train": 80, "valid": 20}) would otherwise make the share cost
    # constant (IoU vs raw counts) and strip the greedy of its
    # balancing force. Epsilon-gated so fraction inputs whose float
    # sum is 0.999... stay bit-identical to the reference greedy.
    tshare = [float(target_shares[s]) for s in splits]
    _ts = sum(tshare)
    if _ts and abs(_ts - 1.0) > 1e-9:
        tshare = [t / _ts for t in tshare]

    def _kl(vec: list) -> float:
        sp = sum(vec) or 1.0
        kl = 0.0
        for j in range(K):
            pj = vec[j] / sp + eps
            kl += pj * (log(pj) - log_gq[j])
        return kl

    def _kl_plus(vec: list, add: list, sp: float) -> float:
        """KL of (vec + add) without materializing the sum. ``sp`` is
        the known sum of the combined vector (counts are integers, so
        the running split size equals the elementwise sum exactly)."""
        sp = sp or 1.0
        kl = 0.0
        for j in range(K):
            pj = (vec[j] + add[j]) / sp + eps
            kl += pj * (log(pj) - log_gq[j])
        return kl

    def _kl_minus(vec: list, sub: list, sp: float) -> float:
        """KL of (vec - sub) — the move-trial from-split form."""
        sp = sp or 1.0
        kl = 0.0
        for j in range(K):
            pj = (vec[j] - sub[j]) / sp + eps
            kl += pj * (log(pj) - log_gq[j])
        return kl

    def _kl_delta(vec: list, sub: list, add: list, sp: float) -> float:
        """KL of (vec - sub + add) — the swap-trial form."""
        sp = sp or 1.0
        kl = 0.0
        for j in range(K):
            pj = (vec[j] - sub[j] + add[j]) / sp + eps
            kl += pj * (log(pj) - log_gq[j])
        return kl

    def _share_cost(sizes: list, tot: float) -> float:
        """1 − IoU vs target shares. ``tot`` is the known sum of
        ``sizes`` (invariant across trials once assignment is done)."""
        tot = tot or 1.0
        inter = 0.0
        union = 0.0
        for j in range(S):
            sh = sizes[j] / tot
            t = tshare[j]
            inter += sh if sh < t else t
            union += t if sh < t else sh
        return 1.0 - (inter / union if union else 0.0)

    A = [[0.0] * K for _ in range(S)]  # per-split histograms
    sizes = [0.0] * S
    assignment: dict[int, str] = {}
    sindex = {s: i for i, s in enumerate(splits)}
    hsize = {cid: sum(v) for cid, v in hvec.items()}  # chunk row counts

    if shuffle == "python":
        chunk_ids = sorted(hists)
        rng = random.Random(seed)
        rng.shuffle(chunk_ids)
    elif shuffle == "portable":
        import hashlib

        chunk_ids = sorted(
            hists,
            key=lambda c: (
                hashlib.md5(f"{seed}:{c}".encode()).hexdigest(),
                str(c),
            ),
        )
    else:
        raise ValueError(f"unknown shuffle {shuffle!r}")
    if polish is None:
        polish = shuffle == "python"

    # cached per-split KL — recomputed ONLY for splits whose histogram
    # changed; always equals _kl(A[j]) bit-for-bit (integer counts)
    cur_kl = [_kl(A[j]) for j in range(S)]
    n_assigned = 0.0  # == sum(sizes): integer counts, so exact

    for cid in chunk_ids:
        h = hvec[cid]
        hn = hsize[cid]
        if preassigned and cid in preassigned:
            winner = sindex[preassigned[cid]]
        else:
            # size-weighted total divergence after each trial assignment
            # (reference dataset_splitter.py:111-118)
            n_total = n_assigned + hn
            best_cost, winner = None, 0
            for i in range(S):
                trial_kl_i = _kl_plus(A[i], h, sizes[i] + hn)
                trial_sizes = list(sizes)
                trial_sizes[i] += hn
                if n_total:
                    hist_cost = 0.0
                    for j in range(S):
                        klj = trial_kl_i if j == i else cur_kl[j]
                        hist_cost += trial_sizes[j] / n_total * klj
                else:
                    hist_cost = 0.0
                cost = (
                    hist_cost_weight * hist_cost
                    + share_cost_weight * _share_cost(trial_sizes, n_total)
                )
                if best_cost is None or cost < best_cost:
                    best_cost, winner = cost, i
        aw = A[winner]
        for j in range(K):
            aw[j] += h[j]
        sizes[winner] += hn
        n_assigned += hn
        cur_kl[winner] = _kl(aw)
        assignment[cid] = splits[winner]

    if not polish:
        return assignment

    # from here on every trial preserves the total: n_assigned is THE
    # sum of sizes (exact — integer counts)
    def total_cost() -> float:
        n_total = n_assigned or 1.0
        hist_cost = sum(
            (sizes[j] / n_total) * cur_kl[j] for j in range(S) if sizes[j]
        )
        return (
            hist_cost_weight * hist_cost
            + share_cost_weight * _share_cost(sizes, n_assigned)
        )

    def _cost_from(kl: list, sz: list) -> float:
        """total_cost of a TRIAL state given per-split kl + sizes —
        same summation order/skip rule as total_cost."""
        n_total = n_assigned or 1.0
        hist_cost = sum(
            (sz[j] / n_total) * kl[j] for j in range(S) if sz[j]
        )
        return (
            hist_cost_weight * hist_cost
            + share_cost_weight * _share_cost(sz, n_assigned)
        )

    def _shift(h: list, hn: float, frm: int, to: int) -> None:
        af, at = A[frm], A[to]
        for j in range(K):
            af[j] -= h[j]
            at[j] += h[j]
        sizes[frm] -= hn
        sizes[to] += hn

    # local-improvement polish: greedy is order-sensitive, so early
    # assignments can leave residual imbalance; a couple of move passes
    # settle it. Trials never touch A — each candidate move recomputes
    # KL for only the two affected splits from the UN-shifted state
    # (exact: counts are integers), so a rejected trial costs O(K)
    # instead of O(S·K)+shift/unshift.
    for _ in range(2):
        moved = False
        cur_total = total_cost()  # carried: exact post-move trial cost
        for cid in sorted(assignment):
            if preassigned and cid in preassigned:
                continue
            h = hvec[cid]
            hn = hsize[cid]
            cur = sindex[assignment[cid]]
            best_cost, best_split = cur_total, cur
            best_kl_from = best_kl_to = 0.0
            kl_from = _kl_minus(A[cur], h, sizes[cur] - hn)
            for i in range(S):
                if i == cur:
                    continue
                kl_to = _kl_plus(A[i], h, sizes[i] + hn)
                tkl = list(cur_kl)
                tkl[cur] = kl_from
                tkl[i] = kl_to
                tsz = list(sizes)
                tsz[cur] -= hn
                tsz[i] += hn
                cost = _cost_from(tkl, tsz)
                if cost < best_cost - 1e-12:
                    best_cost, best_split = cost, i
                    best_kl_from, best_kl_to = kl_from, kl_to
            if best_split != cur:
                _shift(h, hn, cur, best_split)
                cur_kl[cur] = best_kl_from
                cur_kl[best_split] = best_kl_to
                assignment[cid] = splits[best_split]
                cur_total = best_cost
                moved = True
        if not moved:
            break

    # swap polish: moves can't fix histogram skew without breaking the
    # share balance, but exchanging two similar-size chunks between
    # splits can. First-improvement search with a GLOBAL candidate
    # budget: few chunks → wide scan (where single swaps matter most),
    # many chunks → a handful of strided candidates each, so driver
    # polish time stays flat in n.
    movable = [
        c for c in sorted(assignment) if not (preassigned and c in preassigned)
    ]
    if len(movable) <= 256:
        cap = len(movable)
    else:
        cap = max(2, min(32, 50_000 // len(movable)))
    for _ in range(2):
        improved = False
        base = total_cost()
        if base < 1e-6:
            break  # already balanced to noise — swaps can't help
        for idx, ca in enumerate(movable):
            sa = sindex[assignment[ca]]
            ha = hvec[ca]
            han = hsize[ca]
            stride = max(1, len(movable) // cap)
            candidates = movable[(idx + 1) % stride :: stride][:cap]
            for cb in candidates:
                sb = sindex[assignment[cb]]
                if sb == sa or cb == ca:
                    continue
                # trial swap without touching A: only splits sa/sb move
                hb = hvec[cb]
                hbn = hsize[cb]
                sza = sizes[sa] - han + hbn
                szb = sizes[sb] - hbn + han
                kla = _kl_delta(A[sa], ha, hb, sza)
                klb = _kl_delta(A[sb], hb, ha, szb)
                tkl = list(cur_kl)
                tkl[sa] = kla
                tkl[sb] = klb
                tsz = list(sizes)
                tsz[sa] = sza
                tsz[sb] = szb
                cost = _cost_from(tkl, tsz)
                if cost < base - 1e-12:
                    _shift(ha, han, sa, sb)
                    _shift(hb, hbn, sb, sa)
                    cur_kl[sa] = kla
                    cur_kl[sb] = klb
                    assignment[ca] = splits[sb]
                    assignment[cb] = splits[sa]
                    base = cost
                    sa = sindex[assignment[ca]]  # ca now lives in sb
                    improved = True
        if not improved:
            break
    return assignment


def greedy_assign_approx(
    hists: dict[int, dict[tuple, int]],
    target_shares: dict[str, float],
    seed: int = 0,
    hist_cost_weight: float = 1.0,
    share_cost_weight: float = 1.0,
    preassigned: dict[int, str] | None = None,
    quant_levels: int = 16,
    polish_budget: int = 4096,
) -> dict[int, str]:
    """Bounded-driver approximate variant of :func:`greedy_assign` for
    corpus-scale chunk counts (the exact greedy is a sequential
    ``O(n·S·K)`` pure-python loop — semantics-inherent, every decision
    depends on all previous ones — which at millions of chunks becomes
    a single-threaded driver bottleneck with zero cluster parallelism).

    Approximation, fully vectorized (numpy, no per-chunk python trial
    loop):

    1. **Quantize + bucket**: normalize each chunk histogram, round
       each bin share to ``quant_levels`` levels, group identical
       quantized vectors with ``np.unique`` — chunks in one bucket are
       interchangeable for the histogram cost (within 1/quant_levels
       per bin).
    2. **Proportional apportionment**: walk chunks bucket-grouped (a
       seeded permutation inside each bucket) assigning each to the
       currently most-underweight split (largest row deficit vs target
       share). Contiguous near-identical chunks therefore spread across
       splits in target proportion — per-split histograms track the
       global histogram by construction (KL → 0 as buckets fill) and
       shares track the targets to within one chunk.
    3. **Exact polish, budget-capped**: per-split histograms are then
       rebuilt EXACTLY (per-column ``bincount`` over the assignment
       codes — n-length temporaries only) and a
       single move pass over ≤ ``polish_budget`` evenly-strided chunks
       repairs residual quantization error using the same
       cost = ``hist_cost_weight·Σ(sizeⱼ/n)·KLⱼ +
       share_cost_weight·(1−IoU)`` objective as the exact greedy.

    Driver wall time is ``O(n·K)`` in vectorized numpy plus an
    ``O(n·S)`` scalar apportion walk and an ``O(polish_budget·S·K)``
    polish — flat-per-chunk constants ~100× smaller than the exact
    loop. The array core works COLUMN-WISE through reused n-length
    buffers rather than materializing (n × K) temporaries: on VM hosts
    first-touch page faults on fresh multi-GB arrays cost ~10× the
    arithmetic, and this is what dominates at millions of chunks.
    Measured (scripts/bench_greedy_approx_driver.py, 64 bins, table
    path end-to-end incl. factorize): ~1 s at 100k chunks, ~8 s at 1M,
    ~60-100 s at 5M on the degraded-paging bench VM. Deterministic for
    a given seed AND independent of input order (bin keys sorted, see
    :func:`_bin_sort_key`). NOT bit-identical to the reference
    greedy — use the default exact mode when that matters; quality
    parity (share + KL distance within noise of exact) is asserted in
    ``tests/test_split.py``.
    """
    import numpy as np

    # global bin index, SORTED: bin order feeds the seeded bucket hash
    # (hv below), so insertion order — which upstream comes from a Spark
    # collect with no stable ordering guarantee — would make the same
    # seed yield different splits across runs (train/eval membership
    # churn). The sort key totals-orders heterogeneous bin labels
    # (None/str/int/float mixes) without relying on cross-type "<".
    seen = set()
    for h in hists.values():
        seen.update(h)
    keys = sorted(seen, key=_bin_sort_key)
    K = max(1, len(keys))
    kidx = {k: i for i, k in enumerate(keys)}

    cids = sorted(hists)
    n = len(cids)
    if n == 0:
        return {}
    # flat build: three comprehensions + one fancy-index store beats a
    # per-chunk nested loop ~2x at millions of chunks
    hvals = [hists[cid] for cid in cids]
    lens = np.array([len(h) for h in hvals], dtype=np.int64)
    flat_k = np.array(
        [kidx[k] for h in hvals for k in h], dtype=np.int64
    )
    flat_v = np.array(
        [v for h in hvals for v in h.values()], dtype=np.float64
    )
    H = np.zeros((n, K))
    H[np.repeat(np.arange(n), lens), flat_k] = flat_v
    return _assign_approx_arrays(
        cids,
        H,
        target_shares,
        seed=seed,
        hist_cost_weight=hist_cost_weight,
        share_cost_weight=share_cost_weight,
        preassigned=preassigned,
        quant_levels=quant_levels,
        polish_budget=polish_budget,
    )


def _assign_approx_arrays(
    cids: list,
    H,
    target_shares: dict[str, float],
    seed: int = 0,
    hist_cost_weight: float = 1.0,
    share_cost_weight: float = 1.0,
    preassigned: dict[int, str] | None = None,
    quant_levels: int = 16,
    polish_budget: int = 4096,
    _raw: bool = False,
) -> dict[int, str]:
    """Array core of :func:`greedy_assign_approx`: ``H[i]`` is chunk
    ``cids[i]``'s dense bin-count vector. Split out so table-shaped
    entry points (``chunk_histogram_table``) can skip the dict-of-dicts
    round trip entirely."""
    import numpy as np

    splits = list(target_shares)
    S = len(splits)
    sindex = {s: i for i, s in enumerate(splits)}
    tshare = np.asarray([float(target_shares[s]) for s in splits])
    if tshare.sum():
        tshare = tshare / tshare.sum()
    eps = 1e-12

    n, K = H.shape
    if n == 0:
        return {}
    hn = H.sum(axis=1)
    hn_safe = np.where(hn > 0, hn, 1.0)

    G = H.sum(axis=0)
    gq = G / (G.sum() or 1.0) + eps
    log_gq = np.log(gq)

    assign = np.full(n, -1, dtype=np.int64)
    sizes = np.zeros(S)
    if preassigned:
        for r, cid in enumerate(cids):
            if cid in preassigned:
                j = sindex[preassigned[cid]]
                assign[r] = j
                sizes[j] += hn[r]

    free = np.flatnonzero(assign < 0)
    if free.size:
        # bucket key = random-vector hash of the quantized row: a 1D
        # uint64 unique is ~5x faster than np.unique(axis=0)'s
        # structured sort at millions of rows; a collision merely
        # merges two buckets (quality, not correctness) and is
        # ~n²/2⁶⁴-improbable. Seeded → deterministic. Accumulated
        # COLUMN-WISE with in-place ops: the obvious (n × K) matrix
        # forms ((H/hn)*q rint'd, then * hv summed) allocate ~4
        # n×K temporaries — several GB at millions of chunks, and
        # first-touch page faults on fresh multi-GB arrays dominate
        # the whole stage on VM hosts (measured ~10x the arithmetic).
        # Per-column temps are n-length (~40 MB at 5M chunks).
        rng = np.random.default_rng(seed)
        hv = rng.integers(1, 2**63 - 1, size=K, dtype=np.int64) | np.int64(1)
        all_free = free.size == n
        inv = quant_levels / (hn_safe if all_free else hn_safe[free])
        bucket = np.zeros(free.size, dtype=np.int64)
        colbuf = np.empty(free.size)
        ibuf = np.empty(free.size, dtype=np.int64)
        with np.errstate(over="ignore"):
            for k in range(K):
                np.multiply(
                    H[:, k] if all_free else H[free, k], inv, out=colbuf
                )
                np.rint(colbuf, out=colbuf)
                ibuf[...] = colbuf  # cast into already-faulted pages
                ibuf *= hv[k]
                bucket += ibuf
        perm = rng.permutation(free.size)
        # bucket-grouped walk, seeded order within each bucket
        order = free[perm[np.argsort(bucket[perm], kind="stable")]]
        # largest-deficit apportionment: assign each chunk to the split
        # whose row count is furthest below its target share of the new
        # total. Pure-python scalars: S is tiny (2-5), so per-iteration
        # numpy calls would cost ~10x the arithmetic.
        hn_l = hn.tolist()
        ts_l = tshare.tolist()
        sz_l = sizes.tolist()
        tot = float(sizes.sum())
        assign_l = assign.tolist()
        for r in order.tolist():
            tot += hn_l[r]
            best_j, best_d = 0, ts_l[0] * tot - sz_l[0]
            for j in range(1, S):
                d = ts_l[j] * tot - sz_l[j]
                if d > best_d:
                    best_j, best_d = j, d
            assign_l[r] = best_j
            sz_l[best_j] += hn_l[r]
        assign = np.asarray(assign_l, dtype=np.int64)
        sizes = np.asarray(sz_l)

    # exact per-split histograms for the polish + returned state:
    # K per-column bincounts over the assignment codes — temporaries
    # stay n-length (vs np.add.at's slow row-scatter and masked
    # row-copies' S × (n × K) allocations)
    A = np.empty((S, K))
    wbuf = np.empty(n)
    for k in range(K):
        np.copyto(wbuf, H[:, k])  # contiguous view for bincount, reused
        A[:, k] = np.bincount(assign, weights=wbuf, minlength=S)
    n_assigned = float(hn.sum())

    def _kl(vec: np.ndarray, sp: float) -> float:
        p = vec / (sp or 1.0) + eps
        return float(np.sum(p * (np.log(p) - log_gq)))

    def _share_cost(sz: np.ndarray) -> float:
        tot = sz.sum() or 1.0
        sh = sz / tot
        return 1.0 - (
            np.minimum(sh, tshare).sum() / (np.maximum(sh, tshare).sum() or 1.0)
        )

    def _cost(kl: list, sz: np.ndarray) -> float:
        ntot = n_assigned or 1.0
        hist_cost = sum(
            (sz[j] / ntot) * kl[j] for j in range(S) if sz[j]
        )
        return hist_cost_weight * hist_cost + share_cost_weight * _share_cost(sz)

    # budget-capped move polish over evenly-strided chunks, repeated
    # until a pass makes no move (≤4 passes): one first-improvement
    # pass leaves the per-bucket apportionment remainders (±1 chunk per
    # bin) in place, which on small corpora dominates the residual KL
    movable = np.flatnonzero(
        np.ones(n, dtype=bool)
        if not preassigned
        else np.asarray([cids[r] not in preassigned for r in range(n)])
    )
    if movable.size:
        if movable.size > polish_budget:
            pick = np.linspace(0, movable.size - 1, polish_budget).astype(int)
            movable = movable[pick]
        kl_cur = [_kl(A[j], sizes[j]) for j in range(S)]
        base = _cost(kl_cur, sizes)
        # polish depth scales with what it can fix: per-bucket
        # apportionment remainders are ±1 chunk per (bucket, split), so
        # their KL contribution shrinks ~(buckets/n)² — at small chunk
        # counts they dominate (multi-pass move + swap polish recovers
        # exact-greedy quality); past ~1k chunks they are noise and one
        # move pass suffices (keeps the polish out of the scale path's
        # wall clock)
        deep = movable.size <= 1024
        for _pass in range(4 if deep else 1):
            moved = False
            for r in movable:
                a = int(assign[r])
                h = H[r]
                hnr = hn[r]
                kl_from = _kl(A[a] - h, sizes[a] - hnr)
                best_cost, best_b, best_kl_to = base, a, 0.0
                for b in range(S):
                    if b == a:
                        continue
                    kl_to = _kl(A[b] + h, sizes[b] + hnr)
                    tkl = list(kl_cur)
                    tkl[a] = kl_from
                    tkl[b] = kl_to
                    tsz = sizes.copy()
                    tsz[a] -= hnr
                    tsz[b] += hnr
                    c = _cost(tkl, tsz)
                    if c < best_cost - 1e-12:
                        best_cost, best_b, best_kl_to = c, b, kl_to
                if best_b != a:
                    A[a] -= h
                    A[best_b] += h
                    sizes[a] -= hnr
                    sizes[best_b] += hnr
                    kl_cur[a] = kl_from
                    kl_cur[best_b] = best_kl_to
                    assign[r] = best_b
                    base = best_cost
                    moved = True
            if not moved:
                break
        # swap polish (mirrors the exact greedy's): moves cannot reduce
        # histogram KL without disturbing the share balance, but
        # exchanging two similar-size chunks between splits can — this
        # is what clears the per-bucket apportionment remainders.
        # First-improvement over strided candidates, budget-bounded.
        if movable.size <= 256:
            cap = int(movable.size)
        else:
            cap = max(2, min(32, 50_000 // int(movable.size)))
        for _pass in range(2 if deep else 0):
            improved = False
            if base < 1e-9:
                break
            stride = max(1, movable.size // cap)
            for idx in range(movable.size):
                ra = int(movable[idx])
                sa = int(assign[ra])
                ha = H[ra]
                han = hn[ra]
                for cb in movable[(idx + 1) % stride::stride][:cap]:
                    rb = int(cb)
                    sb = int(assign[rb])
                    if sb == sa or rb == ra:
                        continue
                    hb = H[rb]
                    hbn = hn[rb]
                    sza = sizes[sa] - han + hbn
                    szb = sizes[sb] - hbn + han
                    kla = _kl(A[sa] - ha + hb, sza)
                    klb = _kl(A[sb] - hb + ha, szb)
                    tkl = list(kl_cur)
                    tkl[sa] = kla
                    tkl[sb] = klb
                    tsz = sizes.copy()
                    tsz[sa] = sza
                    tsz[sb] = szb
                    c = _cost(tkl, tsz)
                    if c < base - 1e-12:
                        A[sa] += hb - ha
                        A[sb] += ha - hb
                        sizes[sa] = sza
                        sizes[sb] = szb
                        kl_cur[sa] = kla
                        kl_cur[sb] = klb
                        assign[ra] = sb
                        assign[rb] = sa
                        base = c
                        sa = sb
                        improved = True
            if not improved:
                break
    if _raw:
        return assign, splits
    return {cids[r]: splits[int(assign[r])] for r in range(n)}


#: ``mode="auto"`` routes to the exact driver greedy at or below this
#: many chunks, the vectorized approximate core above it. From
#: SCALING.md's measured decade on the bench VM: the exact sequential
#: loop is ~1 s at 15k chunks and ~112 s at 1.5M — ~100k chunks is
#: where driver wall time crosses the few-seconds line while the
#: approximate mode stays ~1 s with objective parity to ~1e-5.
AUTO_EXACT_MAX_CHUNKS = 100_000


def balanced_split(
    df: DataFrame,
    shares: dict[str, float],
    dims: list[str],
    keep_separate: list[str] | None = None,
    id_col: str = "id",
    seed: int = 0,
    out_col: str = "split",
    mode: str = "auto",
    shuffle: str = "python",
) -> DataFrame:
    """End-to-end balanced split (reference ``Dataset.split``,
    ``dataset.py:4384-4681``): atomic chunks → distributed histograms →
    driver greedy → broadcast-join the assignment back. Chunking uses
    the distributed propagation (single keep-separate column → one
    window, no iteration) — only (chunk × bin) histograms ever reach
    the driver.

    ``mode="auto"`` (default) collects the (chunk × bin) histogram
    table once, then routes on the chunk count: at or below
    :data:`AUTO_EXACT_MAX_CHUNKS` it runs the exact sequential greedy,
    above it the vectorized bounded-driver approximate core — so the
    100 TB path never funnels millions of chunks through the
    single-threaded python loop by default. ``mode="exact"`` pins the
    reference-shaped sequential greedy regardless of size (what the
    correctness gate and reference-parity tests use);
    ``mode="approximate"`` pins the vectorized variant
    (:func:`greedy_assign_approx`) and additionally unlocks the
    projection-only chunk-key fast path for single ``keep_separate``
    columns.

    ``shuffle`` (exact/auto-exact modes) picks the greedy's chunk visit
    order — ``"python"`` for reference RNG parity, ``"portable"`` for
    the engine-replicable seeded-md5 order (oracle-checkable; see
    :func:`greedy_assign`)."""
    from lours_spark.split.chunks import atomic_chunks

    if mode == "approximate" and keep_separate and len(keep_separate) == 1:
        # approximate mode is free to pick ANY collision-free chunk key
        # (chunk ids are internal; only exact mode needs the reference's
        # min-id labels for bit-identical greedy decisions) — so use the
        # keep-separate value itself, type-tagged against id collisions.
        # This turns the chunk-id window (a full shuffle+sort of the
        # table) into a plain projection: the histogram groupBy then
        # map-side combines straight off the scan, and the join-back
        # recomputes a projection instead of a second window pass.
        # Numeric keep-separate columns get LONG chunk keys (even =
        # group value, odd = row id — disjoint); others fall back to
        # tagged strings. Long keys keep the collected histogram frame
        # and the assignment transfer at 8 bytes/key instead of a
        # python string object each (~3x driver RSS at millions of
        # chunks). The *2 / *2+1 encoding needs |value| < 2^62 — Spark
        # long multiply wraps SILENTLY outside ANSI mode, which would
        # merge unrelated chunks — so rows beyond the bound fail loud
        # via raise_error instead (a codegen'd comparison on the
        # non-overflow path; real id/group columns never hit it).
        c = keep_separate[0]
        numeric = isinstance(
            df.schema[c].dataType,
            (T.ByteType, T.ShortType, T.IntegerType, T.LongType),
        ) and isinstance(
            df.schema[id_col].dataType,
            (T.ByteType, T.ShortType, T.IntegerType, T.LongType),
        )
        if numeric:
            bound = F.lit(2**62)

            def _checked(col):
                return F.when(
                    (col > -bound) & (col < bound), col
                ).otherwise(
                    F.raise_error(
                        F.concat(
                            F.lit(
                                "balanced_split numeric chunk key "
                                "overflows long encoding (|value| >= "
                                "2^62): "
                            ),
                            col.cast("string"),
                        )
                    ).cast("long")
                )

            chunk_expr = F.when(
                F.col(c).isNotNull(),
                _checked(F.col(c).cast("long")) * 2,
            ).otherwise(_checked(F.col(id_col).cast("long")) * 2 + 1)
            key_type = "long"
        else:
            chunk_expr = F.when(
                F.col(c).isNotNull(),
                F.concat(F.lit("c:"), F.col(c).cast("string")),
            ).otherwise(F.concat(F.lit("i:"), F.col(id_col).cast("string")))
            key_type = "string"
        with_chunks = df.withColumn("chunk_id", chunk_expr)
        pdf = chunk_histogram_table(with_chunks, "chunk_id", dims)
        apdf = _approx_assignment_from_table(pdf, "chunk_id", dims, shares, seed)
        spark = df.sparkSession
        adf = F.broadcast(
            spark.createDataFrame(
                apdf,
                schema=f"chunk_id {key_type}, __assigned string",
            )
        )
        return (
            with_chunks.join(adf, "chunk_id", "left")
            .withColumn(out_col, F.col("__assigned"))
            .drop("__assigned", "chunk_id")
        )

    if keep_separate:
        with_chunks = atomic_chunks(df, id_col, keep_separate)
    else:
        with_chunks = df.withColumn("chunk_id", F.col(id_col))
    spark = df.sparkSession
    # chunk ids inherit id_col's type (string-keyed corpora included) —
    # a hardcoded long schema would crash the assignment transfer
    ck_type = with_chunks.schema["chunk_id"].dataType.simpleString()
    pdf = None
    if mode == "auto":
        # ONE histogram collection serves both routes: count the chunks
        # (already on the driver, no extra job) and pick the greedy
        pdf = chunk_histogram_table(with_chunks, "chunk_id", dims)
        if pdf["chunk_id"].nunique() > AUTO_EXACT_MAX_CHUNKS:
            mode = "approximate"
        else:
            mode = "exact"
            hists = _hists_from_table(pdf, "chunk_id", dims)
    elif mode == "exact":
        hists = chunk_histograms(with_chunks, "chunk_id", dims)
    if mode == "approximate":
        if pdf is None:
            pdf = chunk_histogram_table(with_chunks, "chunk_id", dims)
        apdf = _approx_assignment_from_table(pdf, "chunk_id", dims, shares, seed)
        adf = F.broadcast(
            spark.createDataFrame(
                apdf, schema=f"chunk_id {ck_type}, __assigned string"
            )
        )
    elif mode == "exact":
        assignment = greedy_assign(hists, shares, seed=seed, shuffle=shuffle)
        adf = F.broadcast(
            spark.createDataFrame(
                list(assignment.items()),
                f"chunk_id {ck_type}, __assigned string",
            )
        )
    else:
        raise ValueError(f"unknown balanced_split mode {mode!r}")
    return (
        with_chunks.join(adf, "chunk_id", "left")
        .withColumn(out_col, F.col("__assigned"))
        .drop("__assigned", "chunk_id")
    )
