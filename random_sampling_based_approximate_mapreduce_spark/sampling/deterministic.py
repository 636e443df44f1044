"""Hash-deterministic sampling — reproducible across engines and replays.

The reference's RNG sampling (and ``df.sample``) is only reproducible
within one engine given one seed. Hash-based sampling decides each row
from a HASH of its key: the same rows are selected on any engine that
computes the same hash — so these samplers are value-checkable against
the DuckDB oracle end-to-end (the RNG path can only ever get rows-only
checks), replay-stable under task retries, and stable across cluster
topologies. The trade-off: rows with equal keys sample together
(select a unique key), and the "randomness" is fixed by the seed — no
fresh draw per run.

- ``hash_bernoulli``: keep a row iff hash(key, seed) mod M < ratio*M.
  The batch twin of streaming.sample_stream (which uses xxhash64 for
  speed; here md5-derived hash64 buys SQL reproducibility).
- ``exact_k_sample``: the k rows with the smallest hash priorities — an
  exact-size uniform sample. Plans as TakeOrderedAndProject (per-
  partition top-k then driver merge), NOT a full sort-shuffle, so it
  scales to any corpus for k up to millions.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.hashing import hash64_expr, hash64_sql
from ..functions.quoting import ident, sql_double, sql_str

_BUCKETS = 1_000_000


def _priority(key_expr: str, seed: int) -> str:
    """The hash priority of the Spark SQL expression ``key_expr`` under
    ``seed``, as Spark SQL (one JVM parse, no per-function round trip)."""
    return hash64_expr(f"concat(CAST({key_expr} AS STRING), {sql_str(f'#{seed}')})")


def _bucket(key_expr: str, seed: int) -> str:
    """``_priority`` reduced to the ``_BUCKETS`` grid, as Spark SQL."""
    return f"pmod({_priority(key_expr, seed)}, {_BUCKETS})"


def _accept(key_col: str, ratio: float, seed: int) -> str:
    """The hash-Bernoulli keep predicate on column ``key_col``, as Spark SQL."""
    return f"{_bucket(ident(key_col), seed)} < {bucket_threshold(ratio)}"


def _priority_sql(key_expr: str, seed: int) -> str:
    return hash64_sql(f"({key_expr})::VARCHAR || '#{seed}'")


def bucket_threshold(ratio: float, buckets: int = _BUCKETS) -> int:
    """The integer acceptance threshold for a hash-Bernoulli ratio —
    ONE definition shared by the Spark predicate, the SQL mirror, and
    the report arithmetic, so membership can never drift between them.

    ``round``, not ``int`` (review r8): truncation turned float
    representation noise into a deterministic bias — 0.29 * 1e6 is
    289999.99999999994, so int() accepted with probability 289999/1e6
    while every HT estimator scaled by exactly 1/0.29. And a ratio
    below 0.5/_BUCKETS would truncate to threshold 0 — a permanently
    empty sample whose estimates are silently zero — so that raises
    instead.
    """
    t = round(ratio * buckets)
    if t <= 0:
        raise ValueError(
            f"ratio {ratio} is below the hash resolution 1/{buckets}: "
            "the sample would be permanently empty"
        )
    return t


def hash_bernoulli(df: DataFrame, key_col: str, ratio: float, seed: int = 42) -> DataFrame:
    """Deterministic Bernoulli(ratio) by key hash; HT scale-up = 1/ratio."""
    return df.where(_accept(key_col, ratio, seed))


def hash_bernoulli_sql(key_expr: str, ratio: float, seed: int = 42) -> str:
    """DuckDB WHERE-clause mirror of hash_bernoulli."""
    return f"(({_priority_sql(key_expr, seed)}) % {_BUCKETS}) < {bucket_threshold(ratio)}"


def _stratum_weight(r) -> float:
    """Validate one stratum fraction and return its HT weight 1/r.

    The weight is encoded as DECIMAL(6,2) for cross-engine exactness,
    which makes three inputs silently dangerous (review r8) — all
    rejected loudly instead:
    - r outside (0, 1]: not a sampling fraction (r == 0 previously
      crashed with ZeroDivisionError; negative/overly large were
      nonsense weights);
    - 1/r > 9999.99: DECIMAL(6,2) overflow — Spark's non-ANSI cast
      yields NULL, silently DROPPING the whole stratum from every
      estimate, while the DuckDB mirror errors (parity break);
    - 1/r not exactly two-decimal (e.g. r = 0.3 -> 3.3333...): the
      stored weight 3.33 would bias every HT estimate by the rounding
      without any signal to the caller. Pick fractions with exact
      centi-reciprocals (0.5, 0.25, 0.2, 0.1, 0.05, 0.04, ...).
    """
    if not 0.0 < float(r) <= 1.0:
        raise ValueError(f"stratum fraction must be in (0, 1], got {r}")
    w = 1.0 / float(r)
    if w > 9999.99:
        raise ValueError(
            f"stratum fraction {r} gives HT weight {w:.1f}, overflowing "
            "the DECIMAL(6,2) weight encoding (Spark would NULL it and "
            "silently drop the stratum)"
        )
    if abs(w - round(w, 2)) > 1e-9:
        raise ValueError(
            f"stratum fraction {r} gives HT weight {w!r}, not exactly "
            "representable in the DECIMAL(6,2) weight encoding — the "
            "rounded weight would silently bias every estimate; pick a "
            "fraction whose reciprocal has at most two decimals"
        )
    return w


def stratified_hash_weight(
    strata_col: str, key_col: str, fractions: dict, seed: int = 42
) -> Column:
    """Deterministic per-stratum keep/weight decision as ONE chained CASE:
    rows whose md5 priority lands under their stratum's fraction get the
    HT weight 1/fraction as DECIMAL(6,2) (exact for the engine's
    standard fraction grids), everything else NULL (filter on
    ``isNotNull``). The single source of truth for every stratified
    hash-sampled surface — batch twins, the weighted-quantile twin, and
    the streaming estimator all call this (and its SQL mirror), so the
    weight encoding can never drift between the sites whose parity the
    oracles pin (review r6: the CASE was previously copy-pasted in five
    places)."""
    if not fractions:
        raise ValueError("fractions must be a non-empty {stratum: ratio} dict")
    pri = F.expr(_bucket(ident(key_col), seed))
    w = None
    for t, r in fractions.items():
        # validate the fraction first: its error messages name the
        # actual problem (range / overflow / representability) before
        # bucket_threshold's resolution check can fire
        weight = F.lit(str(_stratum_weight(r))).cast("decimal(6,2)")
        cond = (F.col(strata_col) == t) & (pri < bucket_threshold(r))
        w = F.when(cond, weight) if w is None else w.when(cond, weight)
    return w


def stratified_hash_weight_sql(
    strata_expr: str, key_expr: str, fractions: dict, seed: int = 42
) -> str:
    """DuckDB mirror of ``stratified_hash_weight`` (a CASE expression
    yielding the DECIMAL(6,2) weight or NULL). Stratum keys are quoted
    with '' doubling so keys containing quotes stay valid SQL."""
    if not fractions:
        raise ValueError("fractions must be a non-empty {stratum: ratio} dict")
    cases = " ".join(
        f"WHEN {strata_expr} = '{str(t).replace(chr(39), chr(39) * 2)}' THEN "
        f"CASE WHEN {hash_bernoulli_sql(key_expr, r, seed=seed)} "
        f"THEN CAST('{_stratum_weight(r)}' AS DECIMAL(6,2)) END"
        for t, r in fractions.items()
    )
    return f"CASE {cases} END"


def weighted_bernoulli(
    df: DataFrame,
    key_col: str,
    weight_col: str,
    target_ratio: float,
    mean_weight: float,
    seed: int = 42,
) -> DataFrame:
    """Deterministic Poisson sampling with inclusion prob ∝ weight.

    π_i = min(1, target_ratio · w_i / mean_w); row kept iff its hash
    uniform u_i < π_i. Returns the sampled rows with a ``__pi`` column —
    the Horvitz–Thompson estimator of any total is Σ x_i / π_i, unbiased
    for ANY weight choice, and weighting by a cheap scan column (bytes,
    n_chars) before an EXPENSIVE per-row computation concentrates the
    sample where the mass is (size-biased AQP: big docs carry most of
    the token total, so sampling them preferentially cuts variance at
    equal cost).

    ``mean_weight`` is passed in (one cheap scan-column agg, or a
    catalog statistic at cluster scale) so this stays a single map-only
    pass; hash-determinism makes the SAMPLE ITSELF value-checkable
    against the SQL oracle, per the module contract.
    """
    u = F.expr(f"CAST({_bucket(ident(key_col), seed)} AS DOUBLE) / {sql_double(_BUCKETS)}")
    pi = F.least(
        F.lit(1.0),
        F.lit(target_ratio) * F.col(weight_col).cast("double") / F.lit(float(mean_weight)),
    )
    return df.withColumn("__pi", pi).where(u < F.col("__pi"))


def weighted_bernoulli_sql(
    key_expr: str,
    weight_expr: str,
    target_ratio: float,
    mean_weight_sql: str,
    seed: int = 42,
) -> tuple[str, str]:
    """DuckDB mirror: (pi_expr, keep_predicate) for the same sample."""
    pi = (
        f"least(1.0, {target_ratio} * CAST({weight_expr} AS DOUBLE) / "
        f"CAST(({mean_weight_sql}) AS DOUBLE))"
    )
    u = f"(CAST(({_priority_sql(key_expr, seed)}) % {_BUCKETS} AS DOUBLE) / {float(_BUCKETS)})"
    return pi, f"({u} < {pi})"


def exact_k_sample(df: DataFrame, key_col: str, k: int, seed: int = 42) -> DataFrame:
    """Exactly-k uniform sample: k smallest hash priorities (ties by key).

    ``orderBy(priority).limit(k)`` plans as TakeOrderedAndProject — each
    partition keeps its local top-k and the driver merges, no global
    sort exchange (verify with .explain).
    """
    pri = F.expr(_priority(ident(key_col), seed))
    return df.orderBy(pri.asc(), F.col(key_col).asc()).limit(k)


def exact_k_sample_sql(table: str, key_expr: str, k: int, seed: int = 42) -> str:
    """DuckDB mirror (ORDER BY the same hash priority)."""
    return f"SELECT * FROM {table} ORDER BY {_priority_sql(key_expr, seed)}, {key_expr} LIMIT {k}"


def md5_accept(key: str, ratio: float) -> bool:
    """Driver/Python-side hash-Bernoulli accept: first 4 md5 bytes of
    ``key`` under ``ratio * 2^32``. ONE definition for the cluster-
    sampling ladder's file/block/row-group pickers (review r8: the
    identical expression lived in three modules; any change must now
    land once). Distinct from ``bucket_threshold`` (the 1e6-grid used
    by the Column/SQL samplers, whose thresholds must be embeddable in
    mirrored SQL) — this float compare has ~2^-32 grid resolution and
    needs no SQL mirror because the pick list itself is what gets
    embedded in the oracles."""
    import hashlib

    h = hashlib.md5(key.encode()).digest()
    return int.from_bytes(h[:4], "big") < ratio * 4294967296


def pick_units(
    units: list[tuple[str, int, int]],
    ratio: float,
    key_of,
) -> tuple[list[tuple[str, int]], int, int]:
    """The ONE definition of the cluster-pick accept rule: md5 accept per
    (path, idx) unit + the never-empty hash-min fallback + weight
    accounting. ``units`` is [(path, idx, weight)]; returns
    (picked [(path, idx)], picked_weight, total_weight). Every cluster
    picker reaches it through ``sources.unit_source.pick_runs`` — byte
    spans, bzip2 ranges, zstd frames, BGZF blocks and parquet row groups
    alike (the r8/r9 rule stands: any change lands once).
    """
    import hashlib

    if not 0.0 < ratio <= 1.0:
        raise ValueError(f"ratio must be in (0, 1], got {ratio}")
    picked = [u for u in units if md5_accept(key_of(u[0], u[1]), ratio)]
    if not picked and units:
        picked = [
            min(
                units,
                key=lambda u: int.from_bytes(
                    hashlib.md5(key_of(u[0], u[1]).encode()).digest()[:4], "big"
                ),
            )
        ]
    return (
        [(p, i) for p, i, _ in picked],
        sum(w for _, _, w in picked),
        sum(w for _, _, w in units),
    )
