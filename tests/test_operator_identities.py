"""Property tests for the closed-form rewrites behind the round-6
analytics entries: each entry replaces a sequential/brute-force
definition with a window-expressible identity — these tests pin the
identity itself on randomized inputs, independent of any engine, so a
future 'simplification' that breaks the math fails here even if both
engines agree with each other.
"""

from hypothesis import given, settings
from hypothesis import strategies as st


@settings(max_examples=200, deadline=None)
@given(st.lists(st.integers(min_value=0, max_value=50), min_size=1, max_size=40))
def test_cusum_prefix_min_identity(counts):
    """q_events_cusum computes Page's recursion S_i = max(0, S_{i-1} + d_i)
    as P_i - min_{j<=i} P_j. Verify the identity on arbitrary integer
    deviation sequences (deviations d_i = n*cnt_i - sum, as the entry
    scales them)."""
    n, s = len(counts), sum(counts)
    devs = [n * c - s for c in counts]
    # sequential definition
    seq, cur = [], 0
    for d in devs:
        cur = max(0, cur + d)
        seq.append(cur)
    # closed form
    pre, run_min, closed = 0, 0, []
    for d in devs:
        pre += d
        run_min = min(run_min, pre)
        closed.append(pre - run_min)
    assert closed == seq


@settings(max_examples=200, deadline=None)
@given(
    st.lists(
        st.tuples(
            st.integers(min_value=1, max_value=1000),  # value (cents)
            st.integers(min_value=1, max_value=50),  # weight
        ),
        min_size=1,
        max_size=40,
    )
)
def test_weighted_median_cumulative_rule(pairs):
    """q_weighted_median_price selects min(value) where 2*cum >= total
    over the (value, key)-ordered cumulative weight. Verify it equals the
    definitional weighted low median: the smallest x with
    sum(weight of values <= x) >= half the total weight."""
    pairs = sorted(pairs)
    total = sum(w for _, w in pairs)
    # entry's rule
    cum, by_rule = 0, None
    for v, w in pairs:
        cum += w
        if 2 * cum >= total and by_rule is None:
            by_rule = v
    # definition
    by_def = None
    for v, _ in pairs:
        mass = sum(w for u, w in pairs if u <= v)
        if 2 * mass >= total:
            by_def = v
            break
    assert by_rule == by_def


@settings(max_examples=200, deadline=None)
@given(
    st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=60),  # start day
            st.integers(min_value=0, max_value=30),  # duration (days)
        ),
        min_size=1,
        max_size=40,
    )
)
def test_interval_sweep_delta_identity(intervals):
    """q_orders_open_interval_sweep reconstructs per-day concurrency from
    +1/-1 deltas and a running sum. Verify against the brute-force count
    of intervals covering each day, at every day where the step function
    changes."""
    ivs = [(s, s + d) for s, d in intervals]  # inclusive [s, e]
    deltas = {}
    for s, e in ivs:
        deltas[s] = deltas.get(s, 0) + 1
        deltas[e + 1] = deltas.get(e + 1, 0) - 1
    run = 0
    for day in sorted(deltas):
        run += deltas[day]
        brute = sum(1 for s, e in ivs if s <= day <= e)
        assert run == brute


@settings(max_examples=100, deadline=None)
@given(
    st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=10_000),  # balance
            st.integers(min_value=0, max_value=10_000),  # revenue
        ),
        min_size=1,
        max_size=60,
        unique_by=lambda t: t,
    )
)
def test_skyline_sweep_identity(points):
    """q_customer_skyline keeps a point iff max(revenue) over STRICTLY
    higher balances does not exceed its revenue. Verify the sweep rule
    equals the dominance definition (no point with BOTH coords strictly
    greater) on arbitrary point sets, including balance ties."""
    kept_rule = []
    for b, r in points:
        higher = [r2 for b2, r2 in points if b2 > b]
        best_above = max(higher) if higher else None
        if best_above is None or best_above <= r:
            kept_rule.append((b, r))
    kept_def = [
        (b, r)
        for b, r in points
        if not any(b2 > b and r2 > r for b2, r2 in points)
    ]
    assert sorted(kept_rule) == sorted(kept_def)


@settings(max_examples=200, deadline=None)
@given(
    st.lists(st.integers(min_value=1, max_value=12), min_size=1, max_size=30),
    st.lists(st.integers(min_value=1, max_value=12), min_size=1, max_size=30),
)
def test_mannwhitney_grid_equals_bruteforce(xs, ys):
    """q_lineitem_mannwhitney_u computes 2U from (group × level) grid
    cells: 2U = 2·Σ_{qa>qb} nA·nB + Σ_q nA·nB. Verify against the
    brute-force pairwise definition (2·[a>b] + [a=b] over all cross
    pairs) on arbitrary small samples — the rank-free restatement is
    the entry's whole claim."""
    import collections

    ca, cb = collections.Counter(xs), collections.Counter(ys)
    grid_2u = 2 * sum(
        na * nb for qa, na in ca.items() for qb, nb in cb.items() if qa > qb
    ) + sum(na * cb.get(qa, 0) for qa, na in ca.items())
    brute_2u = sum(
        2 if a > b else (1 if a == b else 0) for a in xs for b in ys
    )
    assert grid_2u == brute_2u
    # side symmetry: U_A + U_B = nA·nB  (so 2U_A + 2U_B = 2·nA·nB)
    grid_2u_b = 2 * sum(
        nb * na for qb, nb in cb.items() for qa, na in ca.items() if qb > qa
    ) + sum(nb * ca.get(qb, 0) for qb, nb in cb.items())
    assert grid_2u + grid_2u_b == 2 * len(xs) * len(ys)


@settings(max_examples=200, deadline=None)
@given(
    st.lists(st.integers(min_value=0, max_value=40), min_size=1, max_size=24)
)
def test_dispersion_numerator_nonnegative_and_constant_zero(counts):
    """q_events_overdispersion's integer numerator H·Σn² − (Σn)² is
    non-negative for ANY hour-count multiset padded with zeros to a
    spine of H ≥ #nonzero hours (Cauchy–Schwarz), and exactly zero when
    every spine hour carries the same count (pure Poisson-rate
    constancy ⇒ variance 0)."""
    H = len(counts) + 3  # spine longer than the nonzero set
    s, s2 = sum(counts), sum(c * c for c in counts)
    assert H * s2 - s * s >= 0
    const = [7] * H
    s, s2 = sum(const), sum(c * c for c in const)
    assert H * s2 - s * s == 0


@settings(max_examples=100, deadline=None)
@given(
    st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=3),
            st.integers(min_value=0, max_value=3),
        ),
        min_size=1,
        max_size=60,
    )
)
def test_markov_floored_walk_equals_exact_when_divisible(edges):
    """q_events_markov_stationary floors each mass transfer
    (π·n) DIV tot independently. On arbitrary chains the floored walk
    is a strict LOWER envelope of the exact rational walk whose total
    mass gap after t steps is < t·|grid| µunits (fresh floor loss per
    term per step; row-stochastic propagation preserves, never
    amplifies, the inherited gap) — the determinism-for-precision
    trade the entry's docstring documents, pinned here exactly."""
    import collections
    from fractions import Fraction

    grid = collections.Counter()
    for i, j in edges:
        grid[(i, j)] += 1
    tots = collections.Counter()
    for (i, _j), n in grid.items():
        tots[i] += n
    states = sorted({i for i, _ in grid} | {j for _, j in grid})
    S = len(states)
    pi_f = {s: 1000000 // S for s in states}
    pi_x = {s: Fraction(1000000 // S) for s in states}
    for step in range(1, 4):
        nf, nx = collections.Counter(), collections.defaultdict(Fraction)
        for (i, j), n in grid.items():
            if i in pi_f:
                nf[j] += (pi_f[i] * n) // tots[i]
            if i in pi_x:
                nx[j] += pi_x[i] * Fraction(n, tots[i])
        # the floored walk never exceeds the exact walk, and the gap
        # COMPOUNDS: each step adds < #(state, edge) terms of fresh
        # floor loss while row-stochastic propagation preserves (never
        # amplifies) the inherited gap — so after t steps the total
        # mass gap is < t · |grid|
        assert all(nx[j] - nf[j] >= 0 for j in nf)
        assert sum(nx.values()) - sum(nf.values()) < step * len(grid)
        pi_f, pi_x = dict(nf), dict(nx)
