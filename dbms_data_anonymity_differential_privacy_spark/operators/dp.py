"""Differential privacy on aggregates — SURVEY §2c X1.

The reference implements NO differential privacy despite its repo name
(SURVEY §0) — this module is the north-star extension: the Laplace
mechanism (Dwork, McSherry, Nissim, Smith, TCC 2006), the Gaussian
mechanism (Dwork & Roth 2014, Thm A.1), and the exponential mechanism
(McSherry & Talwar, FOCS 2007) on grouped count/sum/avg/argmax.

Noise design for a distributed engine: the uniform draw per output group
is derived from ``xxhash64(group key, seed)`` instead of ``rand()``, so
results are deterministic for a given (data, seed) regardless of
partitioning, task retries, or speculative execution — ``rand(seed)`` in
Spark depends on partition layout and would make DP releases
irreproducible under AQE re-planning. Laplace sample via inverse CDF:

    u ~ Uniform(-1/2, 1/2);  lap = -scale * sign(u) * ln(1 - 2|u|)

All JVM-side built-ins — no UDF, whole-stage codegen applies.

Contribution bounding: ``dp_sum``/``dp_avg`` clip the value column to
[lower, upper] first; without clipping the sensitivity of SUM is
unbounded and the release is not DP.

Threat model of the hash-derived noise (IMPORTANT):

- ``seed`` is a SECRET KEY, not a convenience parameter. Anyone who knows
  (seed, release, group key) can recompute the noise and subtract it.
  Production deployments must draw the seed from a secret source and never
  publish it; the defaults in tests/queries exist only for reproducible
  verification of the pre-noise pipeline.
- Every release must use a UNIQUE (seed, release) pair. Because noise is a
  pure function of (key, seed, mechanism, release), two releases sharing
  the pair share their underlying uniform draw, and linear combinations
  cancel the noise exactly (e.g. a sum and an avg over the same groups).
  Mechanisms therefore REQUIRE per-release uniqueness: either an
  accountant (``budget=...``) that issues a fresh nonce per release from
  its ledger position, or an explicit caller-supplied ``release`` label
  that the caller guarantees is never reused against the same data.
  Mechanism names are additionally baked into the salt so distinct
  mechanisms never share draws even under a reused label.
- Sequential composition in :class:`PrivacyBudget` assumes independent
  noise across releases; the nonce scheme is what makes that assumption
  true.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

_HASH_MOD = 2_147_483_647  # 2^31 - 1; plenty of uniform resolution
ROUND_DP = 9  # float rounding for oracle-checkable score columns

# Mechanism families an accountant can be told about at spend time.
# The tag decides which RDP/zCDP curve is SOUND for the release:
# "gaussian" (exact Mironov Prop. 7 / exact rho) requires delta>0
# calibration via gaussian_sigma; "laplace" regains the tight
# mechanism-specific Prop. 6 curve for its pure part; everything else
# ("exponential", "svt", "generic") gets the bound valid for every
# eps-DP mechanism. A delta>0 spend NOT tagged gaussian is treated as
# the eps-DP-up-to-TV-delta decomposition: the pure curve is charged on
# eps and delta accumulates into a total-variation allowance subtracted
# from the conversion delta (round-9 review: charging the Gaussian
# curve for dp_set_union's Laplace-threshold delta was unsound — its
# Renyi divergence is infinite at every order).
_MECHANISMS = frozenset({"laplace", "gaussian", "exponential", "svt", "generic"})


def _check_mechanism(mechanism: str, delta: float) -> None:
    if mechanism not in _MECHANISMS:
        raise ValueError(
            f"unknown mechanism tag {mechanism!r}; expected one of "
            f"{sorted(_MECHANISMS)}"
        )
    if mechanism == "gaussian" and delta <= 0.0:
        raise ValueError(
            "mechanism='gaussian' requires the calibration delta > 0 "
            "(gaussian_sigma); a delta=0 Gaussian spend has no curve"
        )


class PrivacyBudget:
    """Sequential-composition (epsilon, delta) accountant (Dwork & Roth
    2014, Thm 3.16): releases against the same data add their epsilons AND
    their deltas. Mechanisms here take the accountant via ``spend`` so a
    pipeline can enforce a global budget; exceeding either component raises
    before any release is computed. Pure-DP mechanisms (Laplace,
    exponential) spend delta=0, so an all-Laplace pipeline never needs a
    delta allowance.

    Driver-side only (budget is pipeline metadata, not data).
    """

    def __init__(self, total_epsilon: float, total_delta: float = 0.0):
        if total_epsilon <= 0:
            raise ValueError("total_epsilon must be positive")
        if total_delta < 0:
            raise ValueError("total_delta must be >= 0")
        self.total = float(total_epsilon)
        self.total_delta = float(total_delta)
        self.ledger: list[tuple[str, float, float]] = []

    @property
    def spent(self) -> float:
        return sum(e for _, e, _ in self.ledger)

    @property
    def spent_delta(self) -> float:
        return sum(d for _, _, d in self.ledger)

    @property
    def remaining(self) -> float:
        return self.total - self.spent

    @property
    def remaining_delta(self) -> float:
        return self.total_delta - self.spent_delta

    def spend(
        self,
        epsilon: float,
        label: str = "",
        delta: float = 0.0,
        mechanism: str = "generic",
    ) -> float:
        if epsilon <= 0:
            raise ValueError("epsilon must be positive")
        if delta < 0:
            raise ValueError("delta must be >= 0")
        _check_mechanism(mechanism, delta)
        # basic (eps, delta) sequential composition is mechanism-blind —
        # the tag is validated for interface parity but changes nothing
        if self.spent + epsilon > self.total + 1e-12:
            raise BudgetExceededError(
                f"release {label!r} needs eps={epsilon}, only {self.remaining:.6g} "
                f"of {self.total:.6g} remains"
            )
        if self.spent_delta + delta > self.total_delta + 1e-18:
            raise BudgetExceededError(
                f"release {label!r} needs delta={delta}, only "
                f"{self.remaining_delta:.6g} of {self.total_delta:.6g} remains"
            )
        self.ledger.append((label, float(epsilon), float(delta)))
        return epsilon


class BudgetExceededError(RuntimeError):
    """Raised when a release would exceed the accountant's total epsilon."""


class ZCDPBudget:
    """rho-zCDP accountant (Bun & Steinke 2016). Drop-in for
    :class:`PrivacyBudget` — mechanisms call the same
    ``spend(epsilon, label, delta)`` duck-typed interface, and the
    accountant converts each release to its rho cost:

    - ``mechanism='gaussian'`` release calibrated by :func:`gaussian_sigma`
      (``delta > 0``): ``rho = sensitivity^2 / (2 sigma^2) =
      epsilon^2 / (4 ln(1.25/delta))`` (the sensitivity cancels against
      the calibration; this rho is EXACT, so the calibration delta is
      not spent).
    - Pure-DP release (``delta == 0``, Laplace/exponential/SVT): eps-DP
      implies ``(eps^2 / 2)``-zCDP (Bun & Steinke Prop. 1.4).
    - A ``delta > 0`` spend NOT tagged gaussian (e.g. ``dp_set_union``'s
      Laplace-threshold stability mechanism) has NO finite zCDP in
      general — its Renyi divergence can be infinite at every order. The
      sound decomposition (round-9 review): charge the pure-DP rho on
      its epsilon and accumulate delta into a total-variation allowance
      ``spent_tv_delta`` that :meth:`epsilon_at` subtracts from the
      conversion delta (the guarantee only exists at ``delta >
      spent_tv_delta``).

    rho composes ADDITIVELY even adaptively, which is strictly tighter than
    (eps, delta) sequential composition for many Gaussian releases: k
    releases at eps each cost ``k * eps^2 / (4 ln(1.25/delta))`` rho
    instead of ``k * eps`` epsilon. :meth:`epsilon_at` reports the total
    (eps, delta) guarantee via ``eps = rho + 2 sqrt(rho ln(1/delta))``
    (Bun & Steinke Prop. 1.3).

    Driver-side only, like :class:`PrivacyBudget`.
    """

    def __init__(self, total_rho: float):
        import math as _math  # noqa: F401 — used by methods

        if total_rho <= 0:
            raise ValueError("total_rho must be positive")
        self.total_rho = float(total_rho)
        self.ledger: list[tuple[str, float]] = []
        self.spent_tv_delta = 0.0

    @property
    def spent_rho(self) -> float:
        return sum(r for _, r in self.ledger)

    @property
    def remaining_rho(self) -> float:
        return self.total_rho - self.spent_rho

    @staticmethod
    def rho_of(epsilon: float, delta: float = 0.0, mechanism: str = "generic") -> float:
        import math

        if epsilon <= 0:
            raise ValueError("epsilon must be positive")
        _check_mechanism(mechanism, delta)
        if not 0.0 <= delta < 1.0:
            # delta >= 1 would make log(1.25/delta) <= log(1.25) — and past
            # 1.25 NEGATIVE, which spend() would append as a budget CREDIT.
            raise ValueError("delta must be in [0, 1)")
        if mechanism == "gaussian":
            return epsilon * epsilon / (4.0 * math.log(1.25 / delta))
        # every eps-DP mechanism: Bun & Steinke Prop. 1.4; a non-Gaussian
        # delta>0 spend charges the pure part here and its delta goes to
        # the caller's TV allowance (see spend)
        return epsilon * epsilon / 2.0

    def spend(
        self,
        epsilon: float,
        label: str = "",
        delta: float = 0.0,
        mechanism: str = "generic",
    ) -> float:
        rho = self.rho_of(epsilon, delta, mechanism)
        if self.spent_rho + rho > self.total_rho + 1e-15:
            raise BudgetExceededError(
                f"release {label!r} needs rho={rho:.6g}, only "
                f"{self.remaining_rho:.6g} of {self.total_rho:.6g} remains"
            )
        self.ledger.append((label, rho))
        if mechanism != "gaussian" and delta > 0.0:
            self.spent_tv_delta += float(delta)
        return epsilon

    def epsilon_at(self, delta: float) -> float:
        """Total (epsilon, delta)-DP guarantee implied by the rho spent so
        far, at the caller's chosen delta. Non-Gaussian delta spends
        consumed ``spent_tv_delta`` of the allowance first — the
        conversion only holds at ``delta > spent_tv_delta``."""
        import math

        if not 0 < delta < 1:
            raise ValueError("delta must be in (0, 1)")
        conv_delta = delta - self.spent_tv_delta
        if conv_delta <= 0.0:
            raise ValueError(
                f"no guarantee exists at delta={delta:g}: non-Gaussian "
                f"releases already spent {self.spent_tv_delta:g} of TV delta"
            )
        rho = self.spent_rho
        return rho + 2.0 * math.sqrt(rho * math.log(1.0 / conv_delta))


# RDP order grid (Mironov 2017 practice: a fixed ladder spanning the
# small-alpha regime that wins for many weak releases and the
# large-alpha regime that wins for few strong ones).
_RDP_ALPHAS = (
    1.25, 1.5, 1.75, 2.0, 2.5, 3.0, 3.5, 4.0, 5.0, 6.0, 8.0, 10.0,
    12.0, 16.0, 20.0, 24.0, 32.0, 48.0, 64.0, 128.0, 256.0,
)


class RenyiBudget:
    """Rényi-DP accountant (Mironov, CSF 2017) — the tighter composition
    the round-8 verdict asked for (task 7). Drop-in for
    :class:`PrivacyBudget`: mechanisms call the same duck-typed
    ``spend(epsilon, label, delta)``, and the accountant tracks the
    RDP curve of each mechanism over the ``_RDP_ALPHAS`` order grid
    instead of adding raw epsilons. Which curve is sound depends on the
    mechanism FAMILY, which callers declare via ``spend(...,
    mechanism=)`` (round-9 review findings, both directions):

    - pure eps-DP spends (``delta == 0``): the GENERIC bound
      ``eps_a = min(eps, a·eps²/2)`` — ``eps`` from the definition of
      RDP's limit, ``a·eps²/2`` via Bun & Steinke Prop. 1.4
      (eps-DP ⇒ (eps²/2)-zCDP ⇒ eps_a ≤ a·eps²/2). This holds for
      EVERY eps-DP mechanism (randomized response, exponential, SVT).
      ``mechanism='laplace'`` additionally mins in the tight
      mechanism-specific Laplace curve (Mironov Prop. 6,
      ``eps_a = ln(a/(2a-1)·e^{(a-1)eps} + (a-1)/(2a-1)·e^{-a·eps}) /
      (a-1)``) — valid for Laplace specifically, tighter than the
      generic bound at small eps·a.
    - ``mechanism='gaussian'`` (calibrated by :func:`gaussian_sigma`,
      ``σ/Δ = sqrt(2 ln(1.25/δ))/eps``): ``eps_a = a·eps² /
      (4 ln(1.25/δ))`` — Mironov Prop. 7. The calibration delta is NOT
      spent (the Gaussian's RDP curve is exact); the only delta in the
      final guarantee is the conversion delta below.
    - ``delta > 0`` spends NOT tagged gaussian (e.g. ``dp_set_union``'s
      Laplace-threshold stability release): no finite RDP curve exists
      in general — released-item events can have probability zero on the
      neighbor dataset, making the Renyi divergence infinite at every
      order, so charging ANY curve on (eps, delta) would under-count.
      Sound decomposition instead: the mechanism is eps-DP up to a
      delta-TV event, so the pure-DP curve is charged on eps and delta
      accumulates into ``spent_tv_delta``, which the conversion
      subtracts from its target delta (the guarantee only exists at
      ``delta > spent_tv_delta``).

    Curves ADD across releases, adaptively (Mironov Prop. 1);
    :meth:`epsilon_at` converts via ``eps(δ) = min_a [eps_a +
    ln(1/δ)/(a-1)]`` (Mironov Prop. 3) and then takes the min with
    BASIC composition ``Σ eps_i`` — both are simultaneously valid
    guarantees (the basic branch additionally requires the summed
    calibration deltas to fit under the conversion delta, checked), so
    the accountant is NEVER looser than :class:`PrivacyBudget` on any
    sequence, and strictly tighter once the release count grows (the
    comparative assertion lives in tests/test_round9_ops.py).

    Enforcement: constructed with ``(total_epsilon, target_delta)``;
    ``spend`` admits a release iff the post-release
    ``epsilon_at(target_delta)`` still fits ``total_epsilon`` —
    rejection raises BEFORE the ledger mutates, like the other
    accountants. Driver-side only.
    """

    def __init__(self, total_epsilon: float, target_delta: float):
        import math

        if total_epsilon <= 0:
            raise ValueError("total_epsilon must be positive")
        if not 0.0 < target_delta < 1.0:
            raise ValueError("target_delta must be in (0, 1)")
        self.total = float(total_epsilon)
        self.target_delta = float(target_delta)
        self._ln_inv_delta = math.log(1.0 / self.target_delta)
        # per-alpha accumulated RDP epsilons
        self._rdp = [0.0] * len(_RDP_ALPHAS)
        # TV delta consumed by non-Gaussian delta>0 spends (see docstring)
        self.spent_tv_delta = 0.0
        # (label, epsilon, delta) as passed by the mechanism — epsilon
        # feeds the basic-composition cap, delta its validity condition
        self.ledger: list[tuple[str, float, float]] = []

    @staticmethod
    def _curve(
        epsilon: float, delta: float, mechanism: str = "generic"
    ) -> "list[float]":
        import math

        if epsilon <= 0:
            raise ValueError("epsilon must be positive")
        _check_mechanism(mechanism, delta)
        if not 0.0 <= delta < 1.0:
            raise ValueError("delta must be in [0, 1)")
        if mechanism == "gaussian":
            scale = epsilon * epsilon / (4.0 * math.log(1.25 / delta))
            return [a * scale for a in _RDP_ALPHAS]
        # generic pure-DP bound, valid for EVERY eps-DP mechanism; a
        # non-gaussian delta>0 spend charges only its pure part here and
        # routes delta to the TV allowance (spend)
        out = [min(epsilon, a * epsilon * epsilon / 2.0) for a in _RDP_ALPHAS]
        if mechanism == "laplace":
            # Mironov Prop. 6 exact Laplace curve, via log-sum-exp so
            # e^{(a-1)eps} cannot overflow at alpha=256
            for i, a in enumerate(_RDP_ALPHAS):
                t1 = math.log(a / (2.0 * a - 1.0)) + (a - 1.0) * epsilon
                t2 = math.log((a - 1.0) / (2.0 * a - 1.0)) - a * epsilon
                hi, lo = (t1, t2) if t1 >= t2 else (t2, t1)
                lap = (hi + math.log1p(math.exp(lo - hi))) / (a - 1.0)
                out[i] = min(out[i], lap)
        return out

    def _eps_at(
        self,
        rdp: "list[float]",
        basic_eps: float,
        basic_delta: float,
        tv_delta: float,
    ) -> float:
        import math

        conv_delta = self.target_delta - tv_delta
        if conv_delta > 0.0:
            ln_inv = math.log(1.0 / conv_delta)
            conv = min(
                e + ln_inv / (a - 1.0) for a, e in zip(_RDP_ALPHAS, rdp)
            )
        else:
            conv = math.inf
        # the basic-composition bound is only usable when its own delta
        # total fits under the conversion delta
        if basic_delta <= self.target_delta:
            return min(conv, basic_eps)
        return conv

    @property
    def spent(self) -> float:
        """Converted (epsilon at target_delta) spent so far."""
        return self._eps_at(
            self._rdp,
            sum(e for _, e, _ in self.ledger),
            sum(d for _, _, d in self.ledger),
            self.spent_tv_delta,
        )

    @property
    def remaining(self) -> float:
        return self.total - self.spent

    def spend(
        self,
        epsilon: float,
        label: str = "",
        delta: float = 0.0,
        mechanism: str = "generic",
    ) -> float:
        curve = self._curve(epsilon, delta, mechanism)
        tv_inc = float(delta) if (mechanism != "gaussian" and delta > 0.0) else 0.0
        post = [r + c for r, c in zip(self._rdp, curve)]
        post_eps = self._eps_at(
            post,
            sum(e for _, e, _ in self.ledger) + epsilon,
            sum(d for _, _, d in self.ledger) + delta,
            self.spent_tv_delta + tv_inc,
        )
        if post_eps > self.total + 1e-12:
            raise BudgetExceededError(
                f"release {label!r} would bring eps({self.target_delta:g}) to "
                f"{post_eps:.6g} > total {self.total:.6g} (RDP-converted)"
            )
        self._rdp = post
        self.spent_tv_delta += tv_inc
        self.ledger.append((label, float(epsilon), float(delta)))
        return epsilon

    def epsilon_at(self, delta: float) -> float:
        """Total (epsilon, delta)-DP guarantee of everything spent so
        far, converted at the caller's delta (may differ from the
        enforcement target_delta)."""
        import math

        if not 0 < delta < 1:
            raise ValueError("delta must be in (0, 1)")
        conv_delta = delta - self.spent_tv_delta
        if conv_delta > 0.0:
            ln_inv = math.log(1.0 / conv_delta)
            conv = min(
                e + ln_inv / (a - 1.0) for a, e in zip(_RDP_ALPHAS, self._rdp)
            )
        else:
            conv = math.inf
        basic_eps = sum(e for _, e, _ in self.ledger)
        if sum(d for _, _, d in self.ledger) <= delta:
            return min(conv, basic_eps)
        return conv


def _release_salt(
    mechanism: str, release: str | None, budget: "PrivacyBudget | None"
) -> str:
    """Per-release noise salt: ``<mechanism>:<nonce>``.

    The nonce is the accountant's ledger position (unique per accountant)
    or a caller-supplied ``release`` label. With neither, the release is
    refused: two releases sharing (seed, salt) share their uniform draws,
    and linear combinations cancel the noise exactly — the composition
    guarantee would be silently false. Call BEFORE ``budget.spend`` so the
    nonce is this release's own ledger slot.
    """
    if release is None:
        if budget is None:
            raise ValueError(
                f"{mechanism}: a DP release needs per-release noise uniqueness — pass "
                "budget= (the accountant issues a nonce per release) or release= "
                "(a label the caller guarantees is never reused against the same data)"
            )
        release = f"#{len(budget.ledger)}"
    return f"{mechanism}:{release}"


def _uniform_from_key(group_cols: Sequence[str], seed: int, salt: str) -> Column:
    """Deterministic uniform in (0, 1): hash of the group key + seed."""
    h = F.xxhash64(*[F.col(c) for c in group_cols], F.lit(seed), F.lit(salt))
    return (F.pmod(h, F.lit(_HASH_MOD)).cast("double") + F.lit(0.5)) / F.lit(float(_HASH_MOD))


def laplace_noise(group_cols: Sequence[str], scale: float, seed: int, salt: str = "") -> Column:
    """Laplace(0, scale) noise column, deterministic per group key."""
    u = _uniform_from_key(group_cols, seed, salt) - F.lit(0.5)  # (-0.5, 0.5)
    return -F.lit(scale) * F.signum(u) * F.log(F.lit(1.0) - F.lit(2.0) * F.abs(u))


def gaussian_noise(group_cols: Sequence[str], sigma: float, seed: int, salt: str = "") -> Column:
    """N(0, sigma^2) noise column, deterministic per group key.

    Box–Muller over two independent hash-derived uniforms:
    ``z = sqrt(-2 ln u1) * cos(2 pi u2)``. Same reproducibility design as
    :func:`laplace_noise` — partition-layout-independent, so a DP release
    is identical under AQE re-planning, task retries, and repartitioning.
    """
    u1 = _uniform_from_key(group_cols, seed, salt + ":g1")
    u2 = _uniform_from_key(group_cols, seed, salt + ":g2")
    two_pi = 6.283185307179586
    return F.lit(sigma) * F.sqrt(F.lit(-2.0) * F.log(u1)) * F.cos(F.lit(two_pi) * u2)


def gaussian_sigma(epsilon: float, delta: float, sensitivity: float) -> float:
    """Classic Gaussian-mechanism calibration (Dwork & Roth 2014, Thm A.1):
    ``sigma = sensitivity * sqrt(2 ln(1.25/delta)) / epsilon`` gives
    (epsilon, delta)-DP for epsilon in (0, 1)."""
    import math

    if not 0 < epsilon < 1:
        raise ValueError("classic Gaussian mechanism requires 0 < epsilon < 1")
    if not 0 < delta < 1:
        raise ValueError("delta must be in (0, 1)")
    return sensitivity * math.sqrt(2.0 * math.log(1.25 / delta)) / epsilon


def gumbel_noise(group_cols: Sequence[str], scale: float, seed: int, salt: str = "") -> Column:
    """Gumbel(0, scale) noise column: ``-scale * ln(-ln u)``, deterministic
    per key. Basis of the Gumbel-max implementation of the exponential
    mechanism (argmax over scores + Gumbel(2*sens/eps) samples exactly from
    ``p(c) ∝ exp(eps * score(c) / (2 * sens))``)."""
    u = _uniform_from_key(group_cols, seed, salt + ":gum")
    return -F.lit(scale) * F.log(-F.log(u))


def dp_count(
    df: DataFrame,
    by: Sequence[str],
    epsilon: float,
    seed: int = 42,
    budget: "PrivacyBudget | None" = None,
    release: str | None = None,
) -> DataFrame:
    """X1 — noisy group counts. Sensitivity of COUNT is 1 → scale = 1/eps.

    Output: ``(*by, count_exact, count_dp)``. ``count_exact`` is kept so
    the pre-noise aggregate stays oracle-checkable; a production release
    would drop it.
    """
    if epsilon <= 0:
        raise ValueError("epsilon must be positive")
    scale = 1.0 / epsilon
    salt = _release_salt("count", release, budget)
    if budget is not None:
        budget.spend(epsilon, f"dp_count:{','.join(by)}", mechanism="laplace")
    agg = df.groupBy(*by).agg(F.count(F.lit(1)).alias("count_exact"))
    return agg.withColumn(
        "count_dp", F.col("count_exact") + laplace_noise(by, scale, seed, salt)
    )


def dp_sum(
    df: DataFrame,
    by: Sequence[str],
    value_col: str,
    epsilon: float,
    lower: float,
    upper: float,
    seed: int = 42,
    budget: "PrivacyBudget | None" = None,
    release: str | None = None,
) -> DataFrame:
    """X1 — noisy group sums with per-record clipping to [lower, upper].

    Sensitivity = max(|lower|, |upper|) → scale = sensitivity/eps.
    Output: ``(*by, sum_exact, sum_dp)``.
    """
    if epsilon <= 0:
        raise ValueError("epsilon must be positive")
    if lower >= upper:
        raise ValueError("need lower < upper clipping bounds")
    sens = max(abs(lower), abs(upper))
    scale = sens / epsilon
    salt = _release_salt("sum", release, budget)
    if budget is not None:
        budget.spend(epsilon, f"dp_sum:{value_col}", mechanism="laplace")
    clipped = F.least(F.greatest(F.col(value_col), F.lit(lower)), F.lit(upper))
    agg = df.groupBy(*by).agg(F.sum(clipped).alias("sum_exact"))
    return agg.withColumn("sum_dp", F.col("sum_exact") + laplace_noise(by, scale, seed, salt))


def dp_histogram(
    df: DataFrame,
    value_col: str,
    n_bins: int,
    epsilon: float,
    lower: float,
    upper: float,
    seed: int = 42,
    budget: "PrivacyBudget | None" = None,
    release: str | None = None,
) -> DataFrame:
    """X1 — noisy equal-width histogram over PUBLIC bounds [lower, upper].

    The bin structure must be data-independent: edges derived from the
    observed min/max (P17) leak the exact extremes verbatim and can differ
    between neighboring datasets, breaking the parallel-composition
    argument — observed-range binning stays available as the non-DP P17
    operator. Here the caller supplies public bounds; values are clipped
    into range, and ALL ``n_bins`` bins are released with zero counts
    included (which bins appear must not depend on the data either).

    Histogram queries have sensitivity 1 under add/remove-one adjacency
    (each record lands in exactly one bin), so one epsilon covers ALL bins
    in parallel — no budget split (Dwork & Roth 2014, §3.4).
    Output: ``(bin, count_exact, count_dp)``.
    """
    if epsilon <= 0:
        raise ValueError("epsilon must be positive")
    if n_bins < 1:
        raise ValueError("n_bins must be >= 1")
    if lower >= upper:
        raise ValueError("need public bounds lower < upper")
    salt = _release_salt("hist", release, budget)
    if budget is not None:
        budget.spend(epsilon, f"dp_histogram:{value_col}@{n_bins}", mechanism="laplace")
    clipped = F.least(F.greatest(F.col(value_col), F.lit(lower)), F.lit(upper))
    binned = df.select(
        F.least(
            F.floor((clipped - F.lit(lower)) * n_bins / F.lit(upper - lower)),
            F.lit(n_bins - 1),
        )
        .cast("int")
        .alias("bin")
    )
    counts = binned.groupBy("bin").agg(F.count(F.lit(1)).alias("__c"))
    # Public bin spine: released bins are data-independent, zeros included.
    spine = df.sparkSession.range(n_bins).select(F.col("id").cast("int").alias("bin"))
    full = spine.join(counts, "bin", "left").select(
        "bin", F.coalesce(F.col("__c"), F.lit(0)).alias("count_exact")
    )
    return full.withColumn(
        "count_dp", F.col("count_exact") + laplace_noise(["bin"], 1.0 / epsilon, seed, salt)
    )


def dp_avg(
    df: DataFrame,
    by: Sequence[str],
    value_col: str,
    epsilon: float,
    lower: float,
    upper: float,
    seed: int = 42,
    budget: "PrivacyBudget | None" = None,
    release: str | None = None,
) -> DataFrame:
    """X1 — noisy mean as noisy-sum / noisy-count with the budget split
    evenly (eps/2 each; sequential composition).

    The two internal draws use mechanism salts distinct from each other AND
    from :func:`dp_sum`/:func:`dp_count`: if dp_avg shared dp_sum's salt, a
    caller releasing both over the same groups would get correlated noise
    and ``2*r1 - r2`` would recover the exact clipped sum.
    """
    if epsilon <= 0:
        raise ValueError("epsilon must be positive")
    if lower >= upper:
        raise ValueError("need lower < upper clipping bounds")
    eps_half = epsilon / 2.0
    sens = max(abs(lower), abs(upper))
    salt_sum = _release_salt("avg.sum", release, budget)
    salt_cnt = _release_salt("avg.cnt", release, budget)
    if budget is not None:
        budget.spend(epsilon, f"dp_avg:{value_col}")
    clipped = F.least(F.greatest(F.col(value_col), F.lit(lower)), F.lit(upper))
    agg = df.groupBy(*by).agg(
        F.sum(clipped).alias("__sum"), F.count(F.lit(1)).alias("__cnt")
    )
    noisy = agg.withColumn(
        "__sum_dp", F.col("__sum") + laplace_noise(by, sens / eps_half, seed, salt_sum)
    ).withColumn(
        "__cnt_dp",
        F.greatest(F.col("__cnt") + laplace_noise(by, 1.0 / eps_half, seed, salt_cnt), F.lit(1.0)),
    )
    return noisy.select(
        *by,
        (F.col("__sum") / F.col("__cnt")).alias("avg_exact"),
        (F.col("__sum_dp") / F.col("__cnt_dp")).alias("avg_dp"),
    )


def dp_count_gaussian(
    df: DataFrame,
    by: Sequence[str],
    epsilon: float,
    delta: float,
    seed: int = 42,
    budget: "PrivacyBudget | None" = None,
    release: str | None = None,
) -> DataFrame:
    """X1 — (epsilon, delta)-DP group counts via the Gaussian mechanism.

    L2 sensitivity of a count vector under add/remove-one adjacency is 1
    (one record changes one group's count by 1), so one (eps, delta) covers
    all groups. Output: ``(*by, count_exact, count_dp)`` — ``count_exact``
    kept for the oracle, as in :func:`dp_count`.
    """
    sigma = gaussian_sigma(epsilon, delta, sensitivity=1.0)  # validates before charging
    salt = _release_salt("count.gauss", release, budget)
    if budget is not None:
        budget.spend(
            epsilon, f"dp_count_gaussian:{','.join(by)}", delta=delta,
            mechanism="gaussian",
        )
    agg = df.groupBy(*by).agg(F.count(F.lit(1)).alias("count_exact"))
    return agg.withColumn(
        "count_dp", F.col("count_exact") + gaussian_noise(by, sigma, seed, salt)
    )


def _candidate_count_scores(
    df: DataFrame,
    by: Sequence[str],
    candidate_col: str,
    candidates: "Sequence | None",
) -> DataFrame:
    """Count-score relation ``(*by, candidate_col, score_exact)`` for the
    exponential mechanism.

    With ``candidates`` (a PUBLIC, data-independent domain) the relation is
    the full (observed groups × candidates) grid with absent candidates
    scored 0 — required for eps-DP: a candidate present only in D but not
    in neighbor D' would otherwise have positive-vs-zero probability,
    i.e. unbounded privacy loss (a group with a unique modal value reveals
    it with certainty). The group keys themselves are assumed public
    (per-tenant / per-partition releases); candidate payloads are what the
    mechanism protects.

    With ``candidates=None`` the observed support is used — a DOCUMENTED
    RELAXATION that does NOT satisfy eps-DP; acceptable only when the
    candidate domain is itself public knowledge and dense in the data.
    """
    observed = df.groupBy(*by, candidate_col).agg(F.count(F.lit(1)).alias("score_exact"))
    if candidates is None:
        return observed
    spark = df.sparkSession
    cand_df = spark.createDataFrame(
        [(c,) for c in candidates], df.select(candidate_col).schema
    )
    grid = df.select(*by).distinct().crossJoin(F.broadcast(cand_df))
    return grid.join(observed, [*by, candidate_col], "left").select(
        *by,
        candidate_col,
        F.coalesce(F.col("score_exact"), F.lit(0)).alias("score_exact"),
    )


def dp_mode(
    df: DataFrame,
    by: Sequence[str],
    candidate_col: str,
    epsilon: float,
    seed: int = 42,
    budget: "PrivacyBudget | None" = None,
    release: str | None = None,
    candidates: "Sequence | None" = None,
) -> DataFrame:
    """X1 — exponential mechanism: per group, select the modal value of
    ``candidate_col`` with probability ``∝ exp(eps * count / 2)`` (count
    scores have sensitivity 1).

    Pass ``candidates`` — the PUBLIC candidate domain — for a true eps-DP
    release; see :func:`_candidate_count_scores` for why observed-support
    selection (``candidates=None``) is only a documented relaxation.

    Implemented as the Gumbel-max trick — per (group, candidate) add
    Gumbel(2/eps) noise to the count and take the per-group argmax — which
    samples the exponential mechanism exactly (Durfee & Rogers, NeurIPS
    2019) and costs one groupBy + one max-struct agg: no per-candidate
    loop, no window sort, no UDF. Only candidate *scores* ever shuffle
    (one row per distinct (group, candidate)), never fact rows.

    Output: ``(*by, <candidate_col>, score_exact)`` — the selected value
    and its true count (the count itself is NOT part of the DP release;
    drop it in production).
    """
    if epsilon <= 0:
        raise ValueError("epsilon must be positive")
    scale = 2.0 / epsilon
    salt = _release_salt("mode", release, budget)
    if budget is not None:
        budget.spend(epsilon, f"dp_mode:{candidate_col}", mechanism="exponential")
    key = [*by, candidate_col]
    scores = _candidate_count_scores(df, by, candidate_col, candidates)
    noisy = scores.withColumn(
        "__noisy", F.col("score_exact").cast("double") + gumbel_noise(key, scale, seed, salt)
    )
    # argmax via max-of-struct: deterministic given the deterministic noise
    # (hash collisions in __noisy broken by the candidate value itself).
    winner = noisy.groupBy(*by).agg(
        F.max(F.struct("__noisy", candidate_col, "score_exact")).alias("__w")
    )
    return winner.select(
        *by,
        F.col(f"__w.{candidate_col}").alias(candidate_col),
        F.col("__w.score_exact").alias("score_exact"),
    )


def dp_topk(
    df: DataFrame,
    by: Sequence[str],
    candidate_col: str,
    k: int,
    epsilon: float,
    seed: int = 42,
    budget: "PrivacyBudget | None" = None,
    release: str | None = None,
    candidates: "Sequence | None" = None,
) -> DataFrame:
    """X1 — DP top-k most frequent values of ``candidate_col`` per group.

    Pass ``candidates`` — the PUBLIC candidate domain — for a true eps-DP
    release; see :func:`_candidate_count_scores` for why observed-support
    selection (``candidates=None``) is only a documented relaxation.

    One-shot Gumbel top-k: adding independent Gumbel(2k/eps) noise to every
    candidate's count and taking the k highest is equivalent to k rounds of
    the peeling exponential mechanism (Durfee & Rogers, NeurIPS 2019) and
    satisfies eps-DP overall — but needs ONE pass and no k-iteration loop.

    Physical shape: aggregate to candidate scores (only scores shuffle,
    never fact rows), then a per-group top-k window over the noisy score.
    The window sorts |candidates| rows per group — fine because the score
    relation is already the small side; for extreme candidate cardinality
    swap in a bounded per-partition heap via ``mapInPandas``.

    Output: ``(*by, <candidate_col>, score_exact, rank)`` with rank 1..k by
    noisy score (the true count is NOT part of the DP release; drop
    ``score_exact`` in production).
    """
    from pyspark.sql import Window

    if k < 1:
        raise ValueError("k must be >= 1")
    if epsilon <= 0:
        raise ValueError("epsilon must be positive")
    scale = 2.0 * k / epsilon
    salt = _release_salt("topk", release, budget)
    if budget is not None:
        budget.spend(epsilon, f"dp_topk:{candidate_col}@{k}", mechanism="exponential")
    key = [*by, candidate_col]
    scores = _candidate_count_scores(df, by, candidate_col, candidates)
    noisy = scores.withColumn(
        "__noisy", F.col("score_exact").cast("double") + gumbel_noise(key, scale, seed, salt)
    )
    w = Window.partitionBy(*[F.col(c) for c in by]).orderBy(
        F.desc("__noisy"), F.desc(candidate_col)
    )
    return (
        noisy.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= F.lit(k))
        .select(*by, candidate_col, "score_exact", "rank")
    )


def quantile_scores(df: DataFrame, by: Sequence[str], value_col: str, q: float) -> DataFrame:
    """Rank-utility relation for the exponential-mechanism quantile:
    per (group, candidate value v), ``score = -|#records below v - q*n|``
    (Smith, STOC 2011 discrete form). Shared by :func:`dp_quantile` and its
    pre-noise oracle twin.

    Shape mirrors the EMD chain (tcloseness.py): ONE aggregation of the
    fact table to (group, value, count), then window cumsum over the tiny
    per-group support — no per-group loop, no UDF.
    """
    from pyspark.sql import Window

    # a NULL value is not a candidate, and NULL ORDER BY position is
    # engine-dependent — its count would shift every below-rank on one
    # engine only (fuzz-oracle finding, r10)
    counts = (
        df.filter(F.col(value_col).isNotNull())
        .groupBy(*by, value_col)
        .agg(F.count(F.lit(1)).alias("__c"))
    )
    w_cum = Window.partitionBy(*[F.col(c) for c in by]).orderBy(value_col)
    w_all = Window.partitionBy(*[F.col(c) for c in by])
    return (
        counts.withColumn("__below", F.sum("__c").over(w_cum) - F.col("__c"))
        .withColumn("__n", F.sum("__c").over(w_all))
        .withColumn(
            "score", F.round(-F.abs(F.col("__below") - F.lit(q) * F.col("__n")), ROUND_DP)
        )
        .drop("__c", "__below", "__n")
    )


def dp_quantile(
    df: DataFrame,
    by: Sequence[str],
    value_col: str,
    q: float,
    epsilon: float,
    lower: float,
    upper: float,
    seed: int = 42,
    budget: "PrivacyBudget | None" = None,
    release: str | None = None,
) -> DataFrame:
    """X1 — (epsilon, 0)-DP quantile per group via Smith's interval-based
    exponential mechanism over PUBLIC bounds (Smith, STOC 2011).

    The output space is the continuous interval [lower, upper] — a
    data-independent domain, unlike the naive observed-support exponential
    mechanism where a candidate absent in a neighbor has positive-vs-zero
    probability (unbounded privacy loss). The utility
    ``u(x) = -|#{records < x} - q*n|`` is a step function, constant on each
    interval between adjacent observed order statistics, so sampling
    ``p(x) ∝ exp(eps*u(x)/2)`` factorizes exactly into (a) select interval
    j with probability ``∝ len_j * exp(eps*u_j/2)`` — Gumbel-max over
    ``u_j + (2/eps)*ln(len_j)`` — then (b) a hash-uniform point within the
    selected interval. Rank utility has sensitivity 1 under swap adjacency.

    Values are clipped into the public bounds first. Physical shape mirrors
    the EMD chain: ONE aggregation of the fact table to (group, value,
    count), window cumsum over the small per-group support, one max-struct
    argmax — no per-group loop, no UDF, all deterministic per
    (seed, release).

    Output: ``(*by, <value_col>, score_exact)`` — the sampled point (as
    double) and its interval's true utility (NOT part of the DP release;
    drop in production).
    """
    from pyspark.sql import Window

    if not 0.0 <= q <= 1.0:
        raise ValueError("q must be in [0, 1]")
    if epsilon <= 0:
        raise ValueError("epsilon must be positive")
    if lower >= upper:
        raise ValueError("need public bounds lower < upper")
    salt_sel = _release_salt("quantile.sel", release, budget)
    salt_pt = _release_salt("quantile.pt", release, budget)
    if budget is not None:
        budget.spend(epsilon, f"dp_quantile:{value_col}@{q}")

    clipped = F.least(F.greatest(F.col(value_col).cast("double"), F.lit(float(lower))), F.lit(float(upper)))
    counts = df.select(*by, clipped.alias("__v")).groupBy(*by, "__v").agg(
        F.count(F.lit(1)).alias("__c")
    )
    w_ord = Window.partitionBy(*[F.col(c) for c in by]).orderBy("__v")
    w_all = Window.partitionBy(*[F.col(c) for c in by])
    # Interval starting at observed value v_j: [v_j, next value) with
    # #{records < x} = cumulative count through v_j for x in the interior.
    base = (
        counts.withColumn("__below", F.sum("__c").over(w_ord))
        .withColumn("__n", F.sum("__c").over(w_all))
        .select(
            *by,
            F.col("__v").alias("lo"),
            F.lead("__v", 1, float(upper)).over(w_ord).alias("hi"),
            "__below",
            "__n",
        )
    )
    # Leading interval [lower, min value): zero records below.
    lead_iv = counts.groupBy(*by).agg(
        F.min("__v").alias("hi"), F.sum("__c").alias("__n")
    ).select(*by, F.lit(float(lower)).alias("lo"), "hi", F.lit(0).cast("long").alias("__below"), "__n")
    intervals = base.unionByName(lead_iv).filter(F.col("hi") > F.col("lo"))
    scored = intervals.withColumn(
        "score", F.round(-F.abs(F.col("__below") - F.lit(q) * F.col("__n")), ROUND_DP)
    ).withColumn(
        "__noisy",
        F.col("score")
        + F.lit(2.0 / epsilon) * F.log(F.col("hi") - F.col("lo"))
        + gumbel_noise([*by, "lo"], 2.0 / epsilon, seed, salt_sel),
    )
    winner = scored.groupBy(*by).agg(
        F.max(F.struct("__noisy", "lo", "hi", "score")).alias("__w")
    )
    u_pt = _uniform_from_key(list(by), seed, salt_pt)
    return winner.select(
        *by,
        (F.col("__w.lo") + u_pt * (F.col("__w.hi") - F.col("__w.lo"))).alias(value_col),
        F.col("__w.score").alias("score_exact"),
    )


def dp_above_threshold(
    df: DataFrame,
    by: Sequence[str],
    threshold: float,
    epsilon: float,
    c: int = 1,
    seed: int = 42,
    budget: "PrivacyBudget | None" = None,
    release: str | None = None,
) -> DataFrame:
    """X1 — Sparse Vector Technique (AboveThreshold with up to ``c``
    positive answers; Dwork & Roth 2014 §3.6, calibrations per Lyu,
    Su & Li, VLDB 2017, Alg. 1).

    The query stream is the per-group count in lexicographic group-key
    order (a PUBLIC order — it depends only on the group keys, which are
    assumed public as in the other per-group releases). One noisy
    threshold draw ``T + Lap(1/eps1)`` is shared by the whole stream;
    each query adds ``Lap(2c/eps2)``; the stream HALTS after the c-th
    'above' answer — the halt is what makes the (arbitrarily many) below
    answers privacy-free, the whole release costing only
    ``eps = eps1 + eps2`` (split evenly here) regardless of stream length.

    Physical shape: the stream ordering is a window over the AGGREGATED
    group relation (one row per group — kilobytes for categorical keys),
    never over fact rows; the only fact-table work is one partial-combined
    count. The unpartitioned window is benign for the same reason the
    t-closeness support windows are (SCALE.md).

    Output: ``(*by, above)`` for every ANSWERED query (groups after the
    halt are absent). ``count_exact`` is kept for tests/oracles and is NOT
    part of the DP release.
    """
    from pyspark.sql import Window

    if epsilon <= 0:
        raise ValueError("epsilon must be positive")
    if c < 1:
        raise ValueError("c must be >= 1")
    eps_half = epsilon / 2.0
    salt_t = _release_salt("svt.T", release, budget)
    salt_q = _release_salt("svt.q", release, budget)
    if budget is not None:
        budget.spend(
            epsilon, f"dp_above_threshold:{','.join(by)}@{threshold}",
            mechanism="svt",
        )
    scores = df.groupBy(*by).agg(F.count(F.lit(1)).alias("count_exact"))
    noisy = scores.withColumn("__tk", F.lit(0)).withColumn(
        "__above",
        (
            F.col("count_exact") + laplace_noise(by, 2.0 * c / eps_half, seed, salt_q)
            >= F.lit(float(threshold)) + laplace_noise(["__tk"], 1.0 / eps_half, seed, salt_t)
        ),
    )
    w = Window.orderBy(*[F.col(col) for col in by]).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cum = F.sum(F.col("__above").cast("int")).over(w)
    return (
        noisy.withColumn("__cum", cum)
        # halt BEFORE answering the query that follows the c-th 'above':
        # keep a row iff fewer than c aboves were answered strictly before it
        .filter(F.col("__cum") - F.col("__above").cast("int") < F.lit(c))
        .select(*by, F.col("__above").alias("above"), "count_exact")
    )


def bound_contribution(
    df: DataFrame,
    user_col: str,
    max_rows: int,
    order_cols: Sequence[str],
) -> DataFrame:
    """X34 — cap every user's contribution at ``max_rows`` rows.

    User-level DP over a fact table where one user owns many rows needs a
    BOUNDED per-user sensitivity before any mechanism applies; the standard
    move (Wilson et al., "Differentially Private SQL with Bounded User
    Contribution", PoPETS 2020, §4) is to keep at most L rows per user and
    scale noise by L. Selection is deterministic — rank by ``order_cols``
    (which must be a total order per user, e.g. a unique key) — so the
    release is reproducible across retries/partitionings, same requirement
    as the hash-derived noise.

    Physical shape: ONE shuffle on ``user_col`` (window row_number), then a
    map-side filter. The window partition is per-user (bounded by that
    user's row count), never global, so it scales to any number of users;
    a hot user with millions of rows is exactly what the subsequent filter
    truncates. At 100 TB this is the same shuffle the per-user aggregation
    downstream would need anyway, and AQE coalesces the output partitions.
    """
    from pyspark.sql import Window

    if max_rows < 1:
        raise ValueError("max_rows must be >= 1")
    if not order_cols:
        raise ValueError("order_cols must define a deterministic per-user order")
    w = Window.partitionBy(user_col).orderBy(*[F.col(c) for c in order_cols])
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= F.lit(max_rows))
        .drop("__rn")
    )


def dp_sum_user_level(
    df: DataFrame,
    by: Sequence[str],
    user_col: str,
    value_col: str,
    order_cols: Sequence[str],
    epsilon: float,
    lower: float,
    upper: float,
    max_rows: int,
    seed: int = 42,
    budget: "PrivacyBudget | None" = None,
    release: str | None = None,
) -> DataFrame:
    """X34 — user-level DP group sums: per-row clipping to [lower, upper]
    plus per-user contribution bounding to ``max_rows`` rows.

    Removing one USER changes the sum by at most
    ``sensitivity = max_rows * max(|lower|, |upper|)`` — the Laplace scale
    protects whole users, not single rows (user-level adjacency; Wilson et
    al. 2020 §3). Output: ``(*by, sum_exact, sum_dp)`` — ``sum_exact`` is
    the deterministic pre-noise aggregate (oracle-checkable); a production
    release drops it.
    """
    if epsilon <= 0:
        raise ValueError("epsilon must be positive")
    if lower >= upper:
        raise ValueError("need lower < upper clipping bounds")
    sens = max_rows * max(abs(lower), abs(upper))
    scale = sens / epsilon
    salt = _release_salt("usum", release, budget)
    if budget is not None:
        budget.spend(epsilon, f"dp_sum_user_level:{value_col}@L{max_rows}")
    bounded = bound_contribution(df, user_col, max_rows, order_cols)
    clipped = F.least(F.greatest(F.col(value_col), F.lit(lower)), F.lit(upper))
    agg = bounded.groupBy(*by).agg(F.sum(clipped).alias("sum_exact"))
    return agg.withColumn("sum_dp", F.col("sum_exact") + laplace_noise(by, scale, seed, salt))


def dp_count_distinct_users(
    df: DataFrame,
    by: Sequence[str],
    user_col: str,
    epsilon: float,
    max_groups: int = 1,
    seed: int = 42,
    budget: "PrivacyBudget | None" = None,
    release: str | None = None,
) -> DataFrame:
    """X46 — user-level DP distinct-user counts per group.

    "How many distinct users did each event_type see?" released with DP at
    USER granularity: one user flips each group's distinct count by at most
    1, but can sit in MANY groups, so the user-level sensitivity is the
    number of groups they may touch. The standard bound (Wilson et al.
    PoPETS 2020 §4, same line as :func:`bound_contribution`) keeps each
    user in at most ``max_groups`` groups and scales noise by that:

    1. collapse to distinct (user, group) pairs — one partial-aggregated
       shuffle, the dedup the exact query needs anyway;
    2. per-user deterministic selection of ``max_groups`` groups, ranked by
       a PORTABLE content hash md5(user|group) — data-independent,
       reproducible across engines/partitionings (never "first seen", which
       is layout-dependent);
    3. count surviving users per group + Laplace(max_groups/epsilon).

    Output ``(*by, n_users_exact, n_users_dp)`` — the pre-noise core is the
    deterministic oracle-checkable relation; production drops it. Physical
    shape: distinct-pair shuffle → per-user window (bounded partitions) →
    group partial agg; no step holds unbounded state per key.
    """
    from pyspark.sql import Window

    if epsilon <= 0:
        raise ValueError("epsilon must be positive")
    if max_groups < 1:
        raise ValueError("max_groups must be >= 1")
    scale = max_groups / epsilon
    salt = _release_salt("cdistinct", release, budget)
    if budget is not None:
        budget.spend(epsilon, f"dp_count_distinct:{user_col}@G{max_groups}")
    # NULL group labels are excluded from the release: a published
    # NULL category is not a real domain value, and the NULL-keyed slot
    # made the per-user cap engine-dependent (concat_ws skips NULLs,
    # SQL || nulls the whole rank key — fuzz-oracle finding, r10)
    nn = df
    for c in by:
        nn = nn.filter(F.col(c).isNotNull())
    pairs = nn.select(user_col, *by).distinct()
    rank_key = F.md5(
        F.concat_ws(
            "|", *[F.col(c).cast("string") for c in (user_col, *by)]
        ).cast("binary")
    )
    w = Window.partitionBy(user_col).orderBy(rank_key)
    bounded = (
        pairs.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= F.lit(max_groups))
        .drop("__rn")
    )
    agg = bounded.groupBy(*by).agg(F.count(F.lit(1)).alias("n_users_exact"))
    return agg.withColumn(
        "n_users_dp", F.col("n_users_exact") + laplace_noise(by, scale, seed, salt)
    )


# --------------------------------------------------------------------------
# X56 — DP continual observation: the binary-tree (dyadic) counter.
# --------------------------------------------------------------------------

_BUCKET_SECS = {"15 minutes": 900, "1 hour": 3600, "1 day": 86400}


def _dyadic_node_sums(
    df: DataFrame,
    ts_col: str,
    start_epoch: int,
    n_buckets: int,
    step: int,
) -> tuple[DataFrame, int]:
    """Per-(level, node) exact sums of the dyadic interval tree over the
    PUBLIC bucket grid [0, n_buckets). Returns (nodes, n_levels).

    One fact aggregation produces the slim per-bucket count relation;
    the grid zero-fill and the level fan-out (each bucket row explodes
    into its ~log2(n) ancestors) run on kilobytes. Buckets outside the
    public range are dropped — the released domain must not depend on
    the data (same rule as dp_histogram's public bins)."""
    n_levels = max(1, (n_buckets - 1).bit_length() + 1)
    t = F.floor((F.unix_timestamp(F.col(ts_col)) - F.lit(start_epoch)) / F.lit(step)).cast(
        "long"
    )
    counts = (
        df.select(t.alias("t"))
        .filter((F.col("t") >= 0) & (F.col("t") < n_buckets))
        .groupBy("t")
        .agg(F.count(F.lit(1)).alias("__c"))
    )
    spine = df.sparkSession.range(n_buckets).select(F.col("id").alias("t"))
    grid = spine.join(counts, "t", "left").select(
        "t", F.coalesce(F.col("__c"), F.lit(0)).alias("__c")
    )
    levels = F.array([F.lit(l) for l in range(n_levels)])
    nodes = (
        grid.withColumn("level", F.explode(levels))
        .withColumn("node", F.expr("shiftright(t, level)"))
        .groupBy("level", "node")
        .agg(F.sum("__c").alias("node_exact"))
    )
    return nodes, n_levels


def _dyadic_prefix(spark, nodes: DataFrame, n_buckets: int, n_levels: int, value_col: str):
    """Reconstruct every prefix [0, m) as the sum of its maximal dyadic
    nodes: level l contributes iff bit l of m is set, with node index
    ``(m >> (l+1)) << 1`` — pure integer/bit arithmetic, so the
    decomposition is engine-exact. Each prefix touches <= log2(n) of the
    ~2n tree nodes; the node relation broadcasts."""
    rel = spark.range(1, n_buckets + 1).select(F.col("id").alias("m"))
    picks = (
        rel.withColumn("level", F.explode(F.array([F.lit(l) for l in range(n_levels)])))
        .filter(F.expr("(shiftright(m, level) & 1) = 1"))
        .withColumn("node", F.expr("shiftleft(shiftright(m, level + 1), 1)"))
    )
    joined = picks.join(F.broadcast(nodes), on=["level", "node"], how="inner")
    return (
        joined.groupBy("m")
        .agg(F.sum(value_col).alias("__prefix"))
        .select((F.col("m") - 1).alias("bucket"), F.col("__prefix"))
    )


def continual_counts_exact(
    df: DataFrame,
    ts_col: str,
    start_epoch: int,
    n_buckets: int,
    bucket: str = "1 hour",
) -> DataFrame:
    """X56 exact core — prefix counts reconstructed THROUGH the dyadic
    tree (noise-free): ``(bucket, prefix_exact)`` for every public
    bucket. Must equal the plain running sum — which is exactly what the
    DuckDB oracle computes, so a hash match certifies the whole tree
    decomposition (node sums + bit-arithmetic prefix cover) end to end.
    """
    if bucket not in _BUCKET_SECS:
        raise ValueError(f"bucket must be one of {sorted(_BUCKET_SECS)}")
    if n_buckets < 1:
        raise ValueError("n_buckets must be >= 1")
    nodes, n_levels = _dyadic_node_sums(
        df, ts_col, start_epoch, n_buckets, _BUCKET_SECS[bucket]
    )
    out = _dyadic_prefix(df.sparkSession, nodes, n_buckets, n_levels, "node_exact")
    return out.select("bucket", F.col("__prefix").cast("long").alias("prefix_exact"))


def dp_continual_counts(
    df: DataFrame,
    ts_col: str,
    start_epoch: int,
    n_buckets: int,
    bucket: str = "1 hour",
    epsilon: float = 1.0,
    seed: int = 42,
    budget: "PrivacyBudget | None" = None,
    release: str | None = None,
) -> DataFrame:
    """X56 — eps-DP running counts under CONTINUAL OBSERVATION (Chan, Shi
    & Song, TCC 2011 / Dwork et al., STOC 2010 binary mechanism).

    Releasing a running count at every time step with fresh Laplace noise
    per step costs epsilon PER STEP under sequential composition — the
    budget explodes linearly in T. The binary mechanism instead adds
    Lap(L/eps) noise ONCE to each node of a dyadic interval tree
    (L = #levels ~ log2 T): each event lands in exactly one leaf and
    therefore in L nodes, so the WHOLE tree — and hence every prefix
    release derived from it, at every time step — is eps-DP in one
    charge, with per-release error O(log^{1.5} T / eps) instead of
    O(T / eps).

    The bucket grid [start_epoch, start_epoch + n_buckets * step) is
    PUBLIC (caller-declared, like dp_histogram's bins): all buckets are
    released including empty ones, and events outside are dropped. Node
    noise is the engine's replay-stable hash noise keyed on (level,
    node) — a re-run, AQE re-plan, or late re-materialization of the
    stream release reproduces bit-identical noise, which is what makes
    "the tree is noised once" true in a distributed setting.

    Output: ``(bucket, prefix_dp)``. Physical shape: one fact
    aggregation; tree + prefix math on broadcast kilobytes.
    """
    if bucket not in _BUCKET_SECS:
        raise ValueError(f"bucket must be one of {sorted(_BUCKET_SECS)}")
    if epsilon <= 0:
        raise ValueError("epsilon must be positive")
    if n_buckets < 1:
        raise ValueError("n_buckets must be >= 1")
    salt = _release_salt("continual", release, budget)
    if budget is not None:
        budget.spend(epsilon, f"dp_continual_counts:{ts_col}@T{n_buckets}")
    nodes, n_levels = _dyadic_node_sums(
        df, ts_col, start_epoch, n_buckets, _BUCKET_SECS[bucket]
    )
    noisy = nodes.withColumn(
        "node_dp",
        F.col("node_exact")
        + laplace_noise(["level", "node"], n_levels / epsilon, seed, salt),
    )
    out = _dyadic_prefix(df.sparkSession, noisy, n_buckets, n_levels, "node_dp")
    return out.select("bucket", F.col("__prefix").alias("prefix_dp"))


def dp_covariance(
    df: DataFrame,
    by: Sequence[str],
    x_col: str,
    y_col: str,
    epsilon: float,
    x_bounds: tuple[float, float],
    y_bounds: tuple[float, float],
    seed: int = 42,
    budget: "PrivacyBudget | None" = None,
    release: str | None = None,
) -> DataFrame:
    """X68 — eps-DP per-group covariance (and the exact core for the
    oracle twin).

    cov = Σxy/n − (Σx/n)(Σy/n) from three clipped sums, each noised with
    its own Laplace draw under an even eps/4 split (with the count —
    sequential composition; Dwork & Roth §3.5). Sensitivities after
    clipping to the PUBLIC bounds: Δ(Σx) = max|x_bounds|, Δ(Σy) =
    max|y_bounds|, Δ(Σxy) = max|x|·max|y|, Δ(n) = 1. The noisy count is
    floored at 1 before the divisions.

    Same scale shape as every X1 mechanism: one grouped aggregation of
    partials, map-side combine, noise as a deterministic per-key column.
    Output: ``(*by, n_exact, cov_exact_r, cov_dp)``.
    """
    if epsilon <= 0:
        raise ValueError("epsilon must be positive")
    (lx, ux), (ly, uy) = x_bounds, y_bounds
    if lx >= ux or ly >= uy:
        raise ValueError("need lower < upper in both bounds")
    sx_sens = max(abs(lx), abs(ux))
    sy_sens = max(abs(ly), abs(uy))
    sxy_sens = sx_sens * sy_sens
    eps4 = epsilon / 4.0
    salts = {m: _release_salt(f"cov.{m}", release, budget) for m in ("x", "y", "xy", "n")}
    if budget is not None:
        budget.spend(epsilon, f"dp_covariance:{x_col},{y_col}")
    cx = F.least(F.greatest(F.col(x_col), F.lit(lx)), F.lit(ux))
    cy = F.least(F.greatest(F.col(y_col), F.lit(ly)), F.lit(uy))
    agg = df.groupBy(*by).agg(
        F.count(F.lit(1)).alias("n_exact"),
        F.sum(cx).alias("__sx"),
        F.sum(cy).alias("__sy"),
        F.sum(cx * cy).alias("__sxy"),
    )
    nd = F.col("n_exact").cast("double")
    cov_exact = F.col("__sxy") / nd - (F.col("__sx") / nd) * (F.col("__sy") / nd)
    n_dp = F.greatest(
        nd + laplace_noise(by, 1.0 / eps4, seed, salts["n"]), F.lit(1.0)
    )
    sx_dp = F.col("__sx") + laplace_noise(by, sx_sens / eps4, seed, salts["x"])
    sy_dp = F.col("__sy") + laplace_noise(by, sy_sens / eps4, seed, salts["y"])
    sxy_dp = F.col("__sxy") + laplace_noise(by, sxy_sens / eps4, seed, salts["xy"])
    return agg.select(
        *by,
        "n_exact",
        F.round(cov_exact, ROUND_DP).alias("cov_exact_r"),
        (sxy_dp / n_dp - (sx_dp / n_dp) * (sy_dp / n_dp)).alias("cov_dp"),
    )


def _dyadic_range_sums(
    spark,
    nodes: DataFrame,
    ranges: Sequence[tuple[int, int]],
    n_buckets: int,
    n_levels: int,
    value_col: str,
) -> DataFrame:
    """Evaluate inclusive bucket ranges [lo, hi] against a dyadic node
    relation as SIGNED prefix covers: count = P(hi+1) − P(lo), each
    prefix decomposed by the same bit arithmetic as
    :func:`_dyadic_prefix`. P(0) has an empty cover, so a lo = 0 range
    degenerates to the plain prefix."""
    import itertools

    reqs = spark.createDataFrame(
        [
            (i, int(lo), int(hi), sign, m)
            for i, (lo, hi) in enumerate(ranges)
            for sign, m in ((1, int(hi) + 1), (-1, int(lo)))
            if m > 0
        ],
        "range_id int, lo long, hi long, sign int, m long",
    )
    picks = (
        reqs.withColumn(
            "level", F.explode(F.array([F.lit(l) for l in range(n_levels)]))
        )
        .filter(F.expr("(shiftright(m, level) & 1) = 1"))
        .withColumn("node", F.expr("shiftleft(shiftright(m, level + 1), 1)"))
    )
    joined = picks.join(F.broadcast(nodes), on=["level", "node"], how="inner")
    return (
        joined.groupBy("range_id", "lo", "hi")
        .agg(F.sum(F.col("sign") * F.col(value_col)).alias("__range"))
    )


def dp_range_counts(
    df: DataFrame,
    ts_col: str,
    start_epoch: int,
    n_buckets: int,
    ranges: Sequence[tuple[int, int]],
    bucket: str = "1 hour",
    epsilon: float = 1.0,
    seed: int = 42,
    budget: "PrivacyBudget | None" = None,
    release: str | None = None,
    exact: bool = False,
) -> DataFrame:
    """X73 — eps-DP counts over arbitrary time ranges from ONE noised
    dyadic tree (the range-query face of :func:`dp_continual_counts`).

    Every inclusive bucket range [lo, hi] is answered as the signed
    difference of two prefix covers over the SAME per-node noise, so:
    (a) the whole workload — any number of ranges, plus the continual
    prefix stream, against one tree release label — costs ONE epsilon;
    (b) answers are mutually CONSISTENT (range sums telescope exactly:
    [0,5] = [0,2] + [3,5] in the released numbers, which independent
    per-range Laplace answers never satisfy); (c) per-answer error stays
    O(log^{1.5} T / eps) regardless of range length.

    ``exact=True`` skips the noise — the oracle-twin mode, certifying
    the signed-cover algebra against a direct BETWEEN count.

    Output: ``(range_id, lo, hi, range_dp | range_exact)``.
    """
    if bucket not in _BUCKET_SECS:
        raise ValueError(f"bucket must be one of {sorted(_BUCKET_SECS)}")
    if epsilon <= 0:
        raise ValueError("epsilon must be positive")
    for lo, hi in ranges:
        if not 0 <= lo <= hi < n_buckets:
            raise ValueError(f"range ({lo}, {hi}) outside [0, {n_buckets})")
    nodes, n_levels = _dyadic_node_sums(
        df, ts_col, start_epoch, n_buckets, _BUCKET_SECS[bucket]
    )
    if exact:
        out = _dyadic_range_sums(
            df.sparkSession, nodes, ranges, n_buckets, n_levels, "node_exact"
        )
        return out.select(
            "range_id", "lo", "hi", F.col("__range").cast("long").alias("range_exact")
        )
    salt = _release_salt("continual", release, budget)  # SAME tree as the prefix stream
    if budget is not None:
        budget.spend(epsilon, f"dp_range_counts:{ts_col}@T{n_buckets}")
    noisy = nodes.withColumn(
        "node_dp",
        F.col("node_exact")
        + laplace_noise(["level", "node"], n_levels / epsilon, seed, salt),
    )
    out = _dyadic_range_sums(
        df.sparkSession, noisy, ranges, n_buckets, n_levels, "node_dp"
    )
    return out.select("range_id", "lo", "hi", F.col("__range").alias("range_dp"))


def dp_set_union(
    df: DataFrame,
    item_col: str,
    user_col: str,
    epsilon: float,
    delta: float,
    max_items: int = 1,
    seed: int = 42,
    budget: "PrivacyBudget | None" = None,
    release: str | None = None,
) -> DataFrame:
    """X89 — differentially private set union (the vocabulary-release
    problem: publish the set of items — tokens, URLs, n-grams — observed
    across users without revealing any one user's contribution; Gopi et
    al. ICML 2020 frame it, this implements the classic stability-based
    Laplace-threshold baseline they build on, Korolova et al. WWW 2009):

    1. collapse to distinct (user, item) pairs;
    2. cap each user at ``max_items`` contributions, chosen by the
       portable md5(user|item) ranking (data-independent, layout-
       independent — the x46 convention), giving sensitivity Δ =
       ``max_items``;
    3. noisy support = capped count + Laplace(Δ/ε), deterministic per
       item key;
    4. release items whose noisy support clears the stability threshold
       ``ρ = Δ + (Δ/ε)·ln(Δ/(2δ))`` — (ε, δ)-DP because an absent item
       has support ≤ Δ and clears ρ with probability ≤ δ/Δ per affected
       item.

    Output: ``(item, n_exact, n_dp)`` for released items. The pre-noise
    capped-support relation with the EXACT-count threshold is the
    oracle-checkable core (x89_set_union_exact); the noisy release is
    rows-only by design.

    Physical shape: one distinct-pair partial-agg shuffle (slim pairs,
    never fact rows), one bounded per-user window, one item count agg —
    the x46 pipeline with an item-side release rule.
    """
    import math

    from pyspark.sql import Window

    if epsilon <= 0:
        raise ValueError("epsilon must be positive")
    if not 0 < delta < 1:
        raise ValueError("delta must be in (0, 1)")
    if max_items < 1:
        raise ValueError("max_items must be >= 1")
    scale = max_items / epsilon
    rho = max_items + scale * math.log(max_items / (2.0 * delta))
    salt = _release_salt("setunion", release, budget)
    if budget is not None:
        budget.spend(epsilon, f"dp_set_union:{item_col}@D{max_items}", delta=delta)
    pairs = df.select(user_col, item_col).distinct()
    rank_key = F.md5(
        F.concat_ws(
            "|", F.col(user_col).cast("string"), F.col(item_col).cast("string")
        ).cast("binary")
    )
    w = Window.partitionBy(user_col).orderBy(rank_key)
    bounded = (
        pairs.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= F.lit(max_items))
        .drop("__rn")
    )
    agg = bounded.groupBy(item_col).agg(F.count(F.lit(1)).alias("n_exact"))
    noisy = agg.withColumn(
        "n_dp", F.col("n_exact") + laplace_noise([item_col], scale, seed, salt)
    )
    return noisy.filter(F.col("n_dp") >= F.lit(rho)).select(item_col, "n_exact", "n_dp")


def dp_set_union_exact(
    df: DataFrame,
    item_col: str,
    user_col: str,
    epsilon: float,
    delta: float,
    max_items: int = 1,
) -> DataFrame:
    """Pre-noise core of :func:`dp_set_union`: the capped support
    relation thresholded on EXACT counts with the same ρ literal —
    deterministic, hash-checkable against a DuckDB twin (the X1 *_exact
    convention). NOT a DP release (no noise); exists for verification."""
    import math

    from pyspark.sql import Window

    scale = max_items / epsilon
    rho = max_items + scale * math.log(max_items / (2.0 * delta))
    pairs = df.select(user_col, item_col).distinct()
    rank_key = F.md5(
        F.concat_ws(
            "|", F.col(user_col).cast("string"), F.col(item_col).cast("string")
        ).cast("binary")
    )
    w = Window.partitionBy(user_col).orderBy(rank_key)
    bounded = (
        pairs.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= F.lit(max_items))
        .drop("__rn")
    )
    agg = bounded.groupBy(item_col).agg(F.count(F.lit(1)).alias("n_exact"))
    return agg.filter(F.col("n_exact") >= F.lit(rho))


def dp_histogram_2d(
    df: DataFrame,
    x_col: str,
    y_col: str,
    n_bins_x: int,
    n_bins_y: int,
    epsilon: float,
    x_bounds: tuple[float, float],
    y_bounds: tuple[float, float],
    seed: int = 42,
    budget: "PrivacyBudget | None" = None,
    release: str | None = None,
) -> DataFrame:
    """X114 — noisy 2-D histogram (heatmap) over PUBLIC per-axis bounds:
    the joint-distribution release every density dashboard / marginal
    calibration wants, under the same parallel-composition argument as
    the 1-D histogram (each record lands in exactly ONE cell, so one
    epsilon covers the whole grid — no per-cell split; Dwork & Roth §3.4).

    Both grids are data-independent (caller bounds; values clipped;
    ALL ``n_bins_x × n_bins_y`` cells released with zeros), so neither
    the cell structure nor cell presence leaks. The dense spine comes
    from ONE ``spark.range`` cross of the two public grids — kilobytes,
    broadcast onto the cell counts.

    Output: ``(bin_x, bin_y, count_exact, count_dp)``.
    """
    if epsilon <= 0:
        raise ValueError("epsilon must be positive")
    if n_bins_x < 1 or n_bins_y < 1:
        raise ValueError("bin counts must be >= 1")
    (xl, xu), (yl, yu) = x_bounds, y_bounds
    if xl >= xu or yl >= yu:
        raise ValueError("need public bounds lower < upper on both axes")
    salt = _release_salt("hist2d", release, budget)
    if budget is not None:
        budget.spend(
            epsilon, f"dp_histogram_2d:{x_col}x{y_col}@{n_bins_x}x{n_bins_y}",
            mechanism="laplace",
        )

    def bin_of(col: str, lo: float, hi: float, n: int):
        clipped = F.least(F.greatest(F.col(col), F.lit(lo)), F.lit(hi))
        return F.least(
            F.floor((clipped - F.lit(lo)) * n / F.lit(hi - lo)), F.lit(n - 1)
        ).cast("int")

    binned = df.select(
        bin_of(x_col, xl, xu, n_bins_x).alias("bin_x"),
        bin_of(y_col, yl, yu, n_bins_y).alias("bin_y"),
    )
    counts = binned.groupBy("bin_x", "bin_y").agg(F.count(F.lit(1)).alias("__c"))
    spark = df.sparkSession
    spine = (
        spark.range(n_bins_x)
        .select(F.col("id").cast("int").alias("bin_x"))
        .crossJoin(
            spark.range(n_bins_y).select(F.col("id").cast("int").alias("bin_y"))
        )
    )
    full = spine.join(counts, ["bin_x", "bin_y"], "left").select(
        "bin_x", "bin_y", F.coalesce(F.col("__c"), F.lit(0)).alias("count_exact")
    )
    return full.withColumn(
        "count_dp",
        F.col("count_exact")
        + laplace_noise(["bin_x", "bin_y"], 1.0 / epsilon, seed, salt),
    )


def dp_noise_moments(
    spark,
    n_groups: int = 1000,
    epsilon: float = 1.0,
    seed: int = 42,
    release: str = "noise-moments-audit",
    mechanism: str = "laplace",
) -> DataFrame:
    """X1 diagnostics — closed-form moment audit of the Laplace mechanism's
    actual noise, driver-visible and oracle-checkable.

    The noise paths themselves are rows-only by contract (DuckDB cannot
    replay ``xxhash64``); this query turns them into a HARD signal: run
    the real :func:`dp_count` over a seeded synthetic grid of
    ``n_groups`` single-row groups, take the residuals
    ``count_dp − count_exact`` (pure Laplace(0, 1/ε) draws through the
    production inverse-CDF transform), and release

    - sample mean, second moment, and the fraction of residuals below
      the Laplace median of |X| (= b·ln 2) — each a SORTED-FOLD sum
      (``aggregate(array_sort(collect_list(...)))``), so float addition
      order is pinned and the rounded values are run-to-run stable
      (the noise is deterministic per (key, seed, salt) by design);
    - verdict booleans against wide closed-form bounds: |mean| ≤ 6·b·√(2/n)
      (6σ of the CLT mean), m2 ∈ [0.7, 1.3]·2b² (±30% ≈ 4σ of the
      sample second moment at n=1000 given Laplace kurtosis 6), and
      frac(|X| ≤ b·ln2) ∈ [0.40, 0.60] (±6σ of Binomial(n, ½)).

    A broken inverse-CDF transform (wrong sign fold, 1−2|u| slip, scale
    miscalibration) flips at least one verdict and shifts every pinned
    moment — the oracle row goes red. Bounds are deterministic functions
    of (ε, n) only, so the release is reproducible at any sf.

    The calibrated noise scale (Laplace ``b = 1/ε``; Gaussian ``σ`` from
    :func:`gaussian_sigma`) rides the release row as ``scale_r`` so the
    audit is self-describing — a reader can verify ``m2_r ≈ 2·b²`` (or
    ``σ²``) without re-deriving the calibration. The Gaussian path
    inherits ``gaussian_sigma``'s own domain contract and raises
    ``ValueError`` for ε outside (0, 1) — it never silently substitutes
    a capped ε (the classic mechanism's theorem only holds there).

    Output (single row): ``(n_groups, scale_r, mean_r, m2_r,
    frac_small_r, mean_ok, m2_ok, frac_ok)``.
    """
    import math

    grid = spark.range(int(n_groups)).select(F.col("id").alias("__g"))
    if mechanism == "laplace":
        # Laplace(0, b): m2 = 2b^2, median of |X| = b ln 2
        b = 1.0 / epsilon
        scale = b
        m2_expected = 2.0 * b * b
        median_abs = b * math.log(2.0)
        rel = dp_count(grid, ["__g"], epsilon, seed=seed, release=release)
    elif mechanism == "gaussian":
        # N(0, sigma^2) through the production Box-Muller path: m2 =
        # sigma^2, median of |X| = 0.6745 sigma (the probit of 0.75,
        # stdlib NormalDist - platform-independent literal).
        # gaussian_sigma raises for epsilon outside (0, 1): the audit
        # must audit the REQUESTED calibration, never a silent cap.
        from statistics import NormalDist

        sigma = gaussian_sigma(epsilon, 1e-6, 1.0)
        scale = sigma
        m2_expected = sigma * sigma
        median_abs = NormalDist().inv_cdf(0.75) * sigma
        agg0 = grid.groupBy("__g").agg(F.count(F.lit(1)).alias("count_exact"))
        rel = agg0.withColumn(
            "count_dp",
            F.col("count_exact")
            + gaussian_noise(["__g"], sigma, seed, f"gauss-moments:{release}"),
        )
    else:
        raise ValueError(f"unknown mechanism: {mechanism}")
    resid = (F.col("count_dp") - F.col("count_exact")).alias("__r")
    base = rel.select(resid)

    def fold(expr: str) -> Column:
        return F.expr(
            f"aggregate(array_sort(collect_list({expr})), "
            "CAST(0.0 AS DOUBLE), (a, v) -> a + v)"
        )

    n = F.col("n").cast("double")
    agg = base.agg(
        F.count(F.lit(1)).alias("n"),
        fold("__r").alias("__s1"),
        fold("__r * __r").alias("__s2"),
        fold(
            f"CAST(CASE WHEN abs(__r) <= {median_abs!r} THEN 1 ELSE 0 END AS DOUBLE)"
        ).alias("__small"),
    )
    mean = F.col("__s1") / n
    m2 = F.col("__s2") / n
    frac = F.col("__small") / n
    # 6 sigma of the CLT mean; +-30% on m2 (>= 4 sigma given the
    # mechanism's kurtosis at n=1000); +-0.10 on the Binomial(n, 1/2)
    # median fraction (6 sigma)
    mean_bound = 6.0 * math.sqrt(m2_expected / float(n_groups))
    return agg.select(
        F.col("n").cast("long").alias("n_groups"),
        F.lit(round(scale, 6)).alias("scale_r"),
        F.round(mean, 6).alias("mean_r"),
        F.round(m2, 6).alias("m2_r"),
        F.round(frac, 6).alias("frac_small_r"),
        (F.abs(mean) <= F.lit(mean_bound)).alias("mean_ok"),
        ((m2 >= F.lit(0.7 * m2_expected)) & (m2 <= F.lit(1.3 * m2_expected))).alias("m2_ok"),
        ((frac >= F.lit(0.40)) & (frac <= F.lit(0.60))).alias("frac_ok"),
    )


def _largest_remainder_round(
    scaled: "list[float]", total_int: int, keys: "list[tuple]"
) -> "list[int]":
    """Largest-remainder apportionment with an exact-total guarantee in
    BOTH directions: integers that sum to exactly ``total_int``.

    The usual case distributes the shortfall to the cells with the
    largest fractional remainders (deterministic tie-break by key).
    Float rounding in the caller's ``c * total_int / mass`` can also
    push a value just ABOVE an integer boundary, making the floors sum
    EXCEED the total — then the mirror path decrements the excess from
    the positive cells with the SMALLEST remainders (round-8 advisory:
    the previous ``max(0, short)`` clamp silently over-published).
    """
    import math

    if total_int < 0:
        raise ValueError("total_int must be >= 0")
    floors = [int(math.floor(s)) for s in scaled]
    out = list(floors)
    n = len(out)
    if n == 0:
        # Empty cell list (empty or fully-filtered input): there is
        # nothing to apportion the total onto — publish the empty
        # histogram, matching the pre-consistency behavior, instead of
        # divmod-by-zero when the independent total's noise rounds >= 1
        # (round-8 advisory).
        return out
    short = total_int - sum(out)
    # Total-correct for ANY input, not just the caller's near-normalized
    # one (|short| <= 1 there). Semantics = repeated unit passes (each
    # pass adjusts every eligible cell once, remainder-ordered); the
    # full passes are applied in closed form, then one partial pass.
    if short > 0:
        q, r = divmod(short, n)
        if q:
            out = [c + q for c in out]
        order = sorted(
            range(n), key=lambda i: (-(scaled[i] - floors[i]), keys[i])
        )
        for i in order[:r]:
            out[i] += 1
    elif short < 0:
        deficit = -short
        # k full passes: out_i = max(0, out_i - k); find the largest k
        # whose cumulative removal still fits the deficit
        lo, hi = 0, max(out) if out else 0
        while lo < hi:
            mid = (lo + hi + 1) // 2
            if sum(out[i] - max(0, out[i] - mid) for i in range(n)) <= deficit:
                lo = mid
            else:
                hi = mid - 1
        removed = sum(out[i] - max(0, out[i] - lo) for i in range(n))
        out = [max(0, c - lo) for c in out]
        rest = deficit - removed
        if rest:
            order = sorted(
                (i for i in range(n) if out[i] > 0),
                key=lambda i: (scaled[i] - floors[i], keys[i]),
            )
            for i in order[:rest]:
                out[i] -= 1
    return out


def dp_histogram_consistent(
    df: DataFrame,
    by: Sequence[str],
    epsilon: float,
    seed: int = 42,
    budget: "PrivacyBudget | None" = None,
    release: str | None = None,
) -> DataFrame:
    """X1 — DP histogram with CONSISTENCY post-processing (Hay et al.,
    VLDB 2010): raw Laplace counts are individually optimal but jointly
    incoherent — negative cells, and a cell total that contradicts the
    separately-released DP total. Post-processing is free under DP
    (no extra budget), and every serious DP deployment ships it.

    Pipeline (all deterministic given the seed, hence engine-reproducible
    within Spark): (1) :func:`dp_count` noisy cells + one extra Laplace
    draw for the grand total under the SAME epsilon (parallel
    composition over disjoint cells makes the cell release eps-DP; the
    total costs its own eps — budget is spent for both if tracked);
    (2) clamp cells at 0; (3) proportionally rescale the clamped cells
    to the released non-negative total, then LARGEST-REMAINDER round so
    the published integers sum EXACTLY to the rounded total —
    deterministic tie-break by (remainder DESC, *by).

    Rows-only by contract (DuckDB cannot replay the seeded noise — the
    C3/C10 class); the exact twin (`count_exact` retained, x01
    convention) keeps the pre-noise aggregation oracle-checkable, and
    pytest pins the invariants: non-negativity, exact total match,
    determinism across repartitionings.

    Output: ``(*by, count_exact, count_dp_raw, count_dp_consistent)``.

    Scale shape: one grouped aggregation + driver work on the
    HISTOGRAM-sized relation (cells = the group-by domain, metadata-
    sized by contract — a histogram someone publishes is human-scale).
    """
    import math

    if epsilon <= 0:
        raise ValueError("epsilon must be positive")
    noisy = dp_count(df, by, epsilon, seed=seed, budget=budget, release=release)
    total_exact = df.count()
    # independent total draw: same deterministic hash-noise family, its
    # own salt so it is NOT the sum of the cell noises. When the caller
    # tracks by accountant only (release=None), pass None through so
    # _release_salt mints THIS release's ledger-position nonce — a fixed
    # ":total" label here would make every budget-tracked release reuse
    # one Laplace draw for the total, and the noise cancels under
    # differencing (round-8 advisory). Salt BEFORE budget.spend so the
    # nonce is the total's own ledger slot.
    salt_t = _release_salt(
        "count", None if release is None else release + ":total", budget
    )
    if budget is not None:
        budget.spend(
            epsilon, f"dp_histogram_consistent_total:{','.join(by)}",
            mechanism="laplace",
        )
    total_noise_df = noisy.sparkSession.range(1).select(
        laplace_noise([], 1.0 / epsilon, seed, salt_t).alias("__n")
    )
    total_dp = max(0.0, total_exact + total_noise_df.first()["__n"])
    total_int = int(math.floor(total_dp + 0.5))
    rows = noisy.collect()
    clamped = [max(0.0, r["count_dp"]) for r in rows]
    mass = sum(clamped)
    if mass > 0:
        scaled = [c * total_int / mass for c in clamped]
    else:
        scaled = [total_int / len(rows)] * len(rows) if rows else []
    out_counts = _largest_remainder_round(
        scaled, total_int, [tuple(r[c] for c in by) for r in rows]
    )
    spark = df.sparkSession
    data = [
        tuple(r[c] for c in by)
        + (r["count_exact"], float(r["count_dp"]), out_counts[i])
        for i, r in enumerate(rows)
    ]
    # group-key types round-trip through the noisy relation's schema
    from pyspark.sql import types as T

    schema = T.StructType(
        [noisy.schema[c] for c in by]
        + [
            T.StructField("count_exact", T.LongType()),
            T.StructField("count_dp_raw", T.DoubleType()),
            T.StructField("count_dp_consistent", T.LongType()),
        ]
    )
    return spark.createDataFrame(data, schema)
