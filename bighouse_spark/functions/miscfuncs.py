"""Dialect UDFs with no built-in Spark equivalent: string-distance
metrics (Damerau-Levenshtein, Jaro, Jaro-Winkler), Base58 and
Punycode codecs, and special math (erf family, gamma family).

All are Arrow-batched pandas UDFs (vectorized transfer; per-value
work is tight stdlib code) registered once per SparkSession by
``dialect.transpile._ensure_udfs`` and only when a query uses
them — the built-in expression path stays UDF-free. NOTE: no
``from __future__ import annotations`` here — pandas_udf resolves the
``pd.Series`` hints at registration time.
"""

import math

import pandas as pd

import bighouse_spark.compress as _compress
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import (
    ArrayType,
    DecimalType,
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

# DataType INSTANCES, not DDL strings: the UDF bodies reference
# module-level helpers, so the executor worker re-imports this module
# when unpickling — and parsing a DDL return-type string needs an
# active SparkContext, which workers don't have (ipfuncs dodges this
# by closing over stdlib only).
_INT = IntegerType()
_DOUBLE = DoubleType()
_STRING = StringType()

_B58_ALPHABET = "123456789ABCDEFGHJKLMNPQRSTUVWXYZabcdefghijkmnopqrstuvwxyz"


def _damerau(a: str, b: str) -> int:
    """Restricted Damerau-Levenshtein (optimal string alignment, the
    variant ClickHouse implements): edit distance with adjacent
    transposition counted as one edit."""
    la, lb = len(a), len(b)
    if la == 0:
        return lb
    if lb == 0:
        return la
    prev2 = None
    prev = list(range(lb + 1))
    for i in range(1, la + 1):
        cur = [i] + [0] * lb
        for j in range(1, lb + 1):
            cost = 0 if a[i - 1] == b[j - 1] else 1
            cur[j] = min(prev[j] + 1, cur[j - 1] + 1, prev[j - 1] + cost)
            if (
                prev2 is not None
                and i > 1
                and j > 1
                and a[i - 1] == b[j - 2]
                and a[i - 2] == b[j - 1]
            ):
                cur[j] = min(cur[j], prev2[j - 2] + cost)
        prev2, prev = prev, cur
    return prev[lb]


def _jaro(a: str, b: str) -> float:
    la, lb = len(a), len(b)
    if la == 0 and lb == 0:
        return 1.0
    if la == 0 or lb == 0:
        return 0.0
    window = max(la, lb) // 2 - 1
    if window < 0:
        window = 0
    match_a = [False] * la
    match_b = [False] * lb
    matches = 0
    for i in range(la):
        lo = max(0, i - window)
        hi = min(lb, i + window + 1)
        for j in range(lo, hi):
            if not match_b[j] and a[i] == b[j]:
                match_a[i] = match_b[j] = True
                matches += 1
                break
    if matches == 0:
        return 0.0
    trans = 0
    k = 0
    for i in range(la):
        if match_a[i]:
            while not match_b[k]:
                k += 1
            if a[i] != b[k]:
                trans += 1
            k += 1
    trans //= 2
    return (
        matches / la + matches / lb + (matches - trans) / matches
    ) / 3.0


def _jaro_winkler(a: str, b: str) -> float:
    j = _jaro(a, b)
    prefix = 0
    for x, y in zip(a[:4], b[:4]):
        if x != y:
            break
        prefix += 1
    return j + prefix * 0.1 * (1.0 - j)


def _b58_encode(data: bytes) -> str:
    n = int.from_bytes(data, "big")
    out = []
    while n > 0:
        n, r = divmod(n, 58)
        out.append(_B58_ALPHABET[r])
    pad = 0
    for byte in data:
        if byte == 0:
            pad += 1
        else:
            break
    return "1" * pad + "".join(reversed(out))


def _b58_decode(s: str) -> bytes:
    n = 0
    for c in s:
        n = n * 58 + _B58_ALPHABET.index(c)
    raw = n.to_bytes((n.bit_length() + 7) // 8, "big") if n else b""
    pad = 0
    for c in s:
        if c == "1":
            pad += 1
        else:
            break
    return b"\x00" * pad + raw


def _null_safe(fn):
    def conv(x):
        if x is None:
            return None
        try:
            return fn(x)
        except Exception:
            return None

    return conv


def _pair_map(s1: pd.Series, s2: pd.Series, fn):
    return pd.Series(
        [
            None if a is None or b is None else fn(a, b)
            for a, b in zip(s1, s2)
        ]
    )


@pandas_udf(_INT)
def bh_damerau(a: pd.Series, b: pd.Series) -> pd.Series:
    return _pair_map(a, b, _damerau)


@pandas_udf(_DOUBLE)
def bh_jaro(a: pd.Series, b: pd.Series) -> pd.Series:
    return _pair_map(a, b, _jaro)


@pandas_udf(_DOUBLE)
def bh_jaro_winkler(a: pd.Series, b: pd.Series) -> pd.Series:
    return _pair_map(a, b, _jaro_winkler)


@pandas_udf(_STRING)
def bh_base58_encode(s: pd.Series) -> pd.Series:
    return s.map(_null_safe(lambda x: _b58_encode(x.encode("utf-8"))))


@pandas_udf(_STRING)
def bh_base58_decode(s: pd.Series) -> pd.Series:
    return s.map(_null_safe(lambda x: _b58_decode(x).decode("utf-8")))


@pandas_udf(_STRING)
def bh_base32_encode(s: pd.Series) -> pd.Series:
    # RFC 4648 base32, padded uppercase (CH's convention).
    import base64 as _b64

    return s.map(
        _null_safe(
            lambda x: _b64.b32encode(x.encode("utf-8")).decode("ascii")
        )
    )


@pandas_udf(_STRING)
def bh_base32_decode(s: pd.Series) -> pd.Series:
    # Invalid input → NULL via _null_safe, the base58Decode contract.
    import base64 as _b64

    return s.map(
        _null_safe(
            lambda x: _b64.b32decode(x.encode("ascii")).decode("utf-8")
        )
    )


@pandas_udf(_STRING)
def bh_punycode_encode(s: pd.Series) -> pd.Series:
    return s.map(_null_safe(lambda x: x.encode("punycode").decode("ascii")))


@pandas_udf(_STRING)
def bh_punycode_decode(s: pd.Series) -> pd.Series:
    return s.map(_null_safe(lambda x: bytes(x, "ascii").decode("punycode")))


@pandas_udf(_DOUBLE)
def bh_erf(x: pd.Series) -> pd.Series:
    return x.map(_null_safe(math.erf))


@pandas_udf(_DOUBLE)
def bh_erfc(x: pd.Series) -> pd.Series:
    return x.map(_null_safe(math.erfc))


@pandas_udf(_DOUBLE)
def bh_lgamma(x: pd.Series) -> pd.Series:
    return x.map(_null_safe(math.lgamma))


@pandas_udf(_DOUBLE)
def bh_tgamma(x: pd.Series) -> pd.Series:
    return x.map(_null_safe(math.gamma))


def _make_normalizer(form):
    @pandas_udf(_STRING)
    def norm(s: pd.Series) -> pd.Series:
        import unicodedata as _u

        return s.map(
            lambda x: None if x is None else _u.normalize(form, x)
        )

    return norm


@pandas_udf(_STRING)
def bh_idna_encode(s: pd.Series) -> pd.Series:
    return s.map(_null_safe(lambda x: x.encode("idna").decode("ascii")))


@pandas_udf(_STRING)
def bh_idna_decode(s: pd.Series) -> pd.Series:
    return s.map(_null_safe(lambda x: bytes(x, "ascii").decode("idna")))


bh_nfc = _make_normalizer("NFC")
bh_nfd = _make_normalizer("NFD")
bh_nfkc = _make_normalizer("NFKC")
bh_nfkd = _make_normalizer("NFKD")

_GEO32 = "0123456789bcdefghjkmnpqrstuvwxyz"


def _geohash_encode(lon: float, lat: float, precision: int = 12) -> str:
    lat_lo, lat_hi = -90.0, 90.0
    lon_lo, lon_hi = -180.0, 180.0
    out = []
    bit, ch, even = 0, 0, True
    while len(out) < precision:
        if even:
            mid = (lon_lo + lon_hi) / 2
            if lon >= mid:
                ch = (ch << 1) | 1
                lon_lo = mid
            else:
                ch <<= 1
                lon_hi = mid
        else:
            mid = (lat_lo + lat_hi) / 2
            if lat >= mid:
                ch = (ch << 1) | 1
                lat_lo = mid
            else:
                ch <<= 1
                lat_hi = mid
        even = not even
        bit += 1
        if bit == 5:
            out.append(_GEO32[ch])
            bit, ch = 0, 0
    return "".join(out)


def _geohash_decode(h: str):
    lat_lo, lat_hi = -90.0, 90.0
    lon_lo, lon_hi = -180.0, 180.0
    even = True
    for c in h:
        cd = _GEO32.index(c)
        for mask in (16, 8, 4, 2, 1):
            if even:
                mid = (lon_lo + lon_hi) / 2
                if cd & mask:
                    lon_lo = mid
                else:
                    lon_hi = mid
            else:
                mid = (lat_lo + lat_hi) / 2
                if cd & mask:
                    lat_lo = mid
                else:
                    lat_hi = mid
            even = not even
    return (lon_lo + lon_hi) / 2, (lat_lo + lat_hi) / 2


@pandas_udf(_STRING)
def bh_geohash_encode(
    lon: pd.Series, lat: pd.Series, prec: pd.Series
) -> pd.Series:
    return pd.Series(
        [
            None
            if lo is None or la is None
            else _geohash_encode(float(lo), float(la), int(p or 12))
            for lo, la, p in zip(lon, lat, prec)
        ]
    )


@pandas_udf(
    StructType(
        [
            StructField("longitude", DoubleType()),
            StructField("latitude", DoubleType()),
        ]
    )
)
def bh_geohash_decode(h: pd.Series) -> pd.DataFrame:
    vals = [
        (None, None) if x is None else _geohash_decode(x) for x in h
    ]
    return pd.DataFrame(vals, columns=["longitude", "latitude"])


def _jump_hash(key: int, buckets: int) -> int:
    """Jump consistent hash (Lamport & Veach 2014, public algorithm):
    maps a 64-bit key to one of ``buckets`` slots with minimal
    remapping when the bucket count changes. CH's
    ``jumpConsistentHash`` is the same published algorithm."""
    if buckets <= 0:
        return 0
    key &= (1 << 64) - 1
    b, j = -1, 0
    while j < buckets:
        b = j
        key = (key * 2862933555777941757 + 1) & ((1 << 64) - 1)
        j = int((b + 1) * (float(1 << 31) / float((key >> 33) + 1)))
    return b


@pandas_udf(IntegerType())
def bh_jumphash(key: pd.Series, buckets: pd.Series) -> pd.Series:
    return pd.Series(
        [
            None if k is None or pd.isna(k) or n is None or pd.isna(n)
            else _jump_hash(int(k), int(n))
            for k, n in zip(key, buckets)
        ],
        dtype="object",
    )


def _kostik_hash(key: int, buckets: int) -> int:
    """Capability twin of CH ``kostikConsistentHash`` (Oblakov's
    O(1) consistent hashing, reference ``ch`` image CH 23.6): the
    same CONTRACT — deterministic, uniform over [0, n), minimal
    remaps when n grows, n ≤ 32768 — built from the published
    splitmix64 finalizer (Steele/Lea/Flood, "Fast Splittable
    Pseudorandom Number Generators") feeding the published jump
    consistent hash (Lamping & Veach 2014). NOT bit-exact to CH's
    bucket permutation: the Oblakov algorithm has no published spec
    beyond its C++ source (which this from-scratch repo does not
    copy) and bit-parity is unverifiable offline — documented in
    COVERAGE.md beside the other capability twins
    (farmFingerprint64, default-mode cityHash64)."""
    if buckets > 32768:
        raise ValueError(
            "kostikConsistentHash: n must be at most 32768 "
            "(ClickHouse's own limit); use jumpConsistentHash for "
            "larger bucket counts"
        )
    mask = (1 << 64) - 1
    x = key & mask
    x ^= x >> 30
    x = (x * 0xBF58476D1CE4E5B9) & mask
    x ^= x >> 27
    x = (x * 0x94D049BB133111EB) & mask
    x ^= x >> 31
    return _jump_hash(x, buckets)


@pandas_udf(IntegerType())
def bh_kostikhash(key: pd.Series, buckets: pd.Series) -> pd.Series:
    return pd.Series(
        [
            None if k is None or pd.isna(k) or n is None or pd.isna(n)
            else _kostik_hash(int(k), int(n))
            for k, n in zip(key, buckets)
        ],
        dtype="object",
    )


def _betacf(a: float, b: float, x: float) -> float:
    """Continued fraction for the incomplete beta (the classic
    modified-Lentz evaluation of the published expansion)."""
    maxit, eps, fpmin = 300, 3e-16, 1e-300
    qab, qap, qam = a + b, a + 1.0, a - 1.0
    c = 1.0
    d = 1.0 - qab * x / qap
    if abs(d) < fpmin:
        d = fpmin
    d = 1.0 / d
    h = d
    for m in range(1, maxit + 1):
        m2 = 2 * m
        aa = m * (b - m) * x / ((qam + m2) * (a + m2))
        d = 1.0 + aa * d
        if abs(d) < fpmin:
            d = fpmin
        c = 1.0 + aa / c
        if abs(c) < fpmin:
            c = fpmin
        d = 1.0 / d
        h *= d * c
        aa = -(a + m) * (qab + m) * x / ((a + m2) * (qap + m2))
        d = 1.0 + aa * d
        if abs(d) < fpmin:
            d = fpmin
        c = 1.0 + aa / c
        if abs(c) < fpmin:
            c = fpmin
        d = 1.0 / d
        delta = d * c
        h *= delta
        if abs(delta - 1.0) < eps:
            break
    return h


def _betainc(a: float, b: float, x: float) -> float:
    """Regularized incomplete beta I_x(a, b)."""
    if x <= 0.0:
        return 0.0
    if x >= 1.0:
        return 1.0
    ln_bt = (
        math.lgamma(a + b) - math.lgamma(a) - math.lgamma(b)
        + a * math.log(x) + b * math.log1p(-x)
    )
    bt = math.exp(ln_bt)
    if x < (a + 1.0) / (a + b + 2.0):
        return bt * _betacf(a, b, x) / a
    return 1.0 - bt * _betacf(b, a, 1.0 - x) / b


def _t_pvalue2(t: float, df: float) -> float:
    """Two-sided Student-t survival: P(|T| > |t|) =
    I_{df/(df+t²)}(df/2, 1/2)."""
    if df is None or t is None or not df > 0 or math.isnan(t):
        return float("nan")
    if math.isinf(t):
        return 0.0
    return min(1.0, max(0.0, _betainc(df / 2.0, 0.5, df / (df + t * t))))


# Acklam's rational approximation to the inverse standard-normal CDF
# (public algorithm; |relative error| < 1.15e-9 over (0, 1)).
_PPF_A = (-3.969683028665376e+01, 2.209460984245205e+02,
          -2.759285104469687e+02, 1.383577518672690e+02,
          -3.066479806614716e+01, 2.506628277459239e+00)
_PPF_B = (-5.447609879822406e+01, 1.615858368580409e+02,
          -1.556989798598866e+02, 6.680131188771972e+01,
          -1.328068155288572e+01)
_PPF_C = (-7.784894002430293e-03, -3.223964580411365e-01,
          -2.400758277161838e+00, -2.549732539343734e+00,
          4.374664141464968e+00, 2.938163982698783e+00)
_PPF_D = (7.784695709041462e-03, 3.224671290700398e-01,
          2.445134137142996e+00, 3.754408661907416e+00)


def _norm_ppf(p: float) -> float:
    if p is None or not 0.0 < p < 1.0:
        return float("nan")
    a, b, c, d = _PPF_A, _PPF_B, _PPF_C, _PPF_D
    plow, phigh = 0.02425, 1 - 0.02425
    if p < plow:
        q = math.sqrt(-2 * math.log(p))
        return (((((c[0] * q + c[1]) * q + c[2]) * q + c[3]) * q
                 + c[4]) * q + c[5]) / (
            (((d[0] * q + d[1]) * q + d[2]) * q + d[3]) * q + 1)
    if p > phigh:
        q = math.sqrt(-2 * math.log(1 - p))
        return -(((((c[0] * q + c[1]) * q + c[2]) * q + c[3]) * q
                  + c[4]) * q + c[5]) / (
            (((d[0] * q + d[1]) * q + d[2]) * q + d[3]) * q + 1)
    q = p - 0.5
    r = q * q
    return (((((a[0] * r + a[1]) * r + a[2]) * r + a[3]) * r
             + a[4]) * r + a[5]) * q / (
        ((((b[0] * r + b[1]) * r + b[2]) * r + b[3]) * r + b[4]) * r + 1)


@pandas_udf(_DOUBLE)
def bh_t_pvalue2(t: pd.Series, df: pd.Series) -> pd.Series:
    return pd.Series(
        [_t_pvalue2(tv, dv) for tv, dv in zip(t, df)], dtype="float64"
    )


def _f_pvalue(f: float, df1: float, df2: float) -> float:
    """F-distribution survival P(F > f) = I_{df2/(df2+df1·f)}
    (df2/2, df1/2) — same regularized incomplete beta as the t
    p-value (one-way ANOVA's upper-tail probability)."""
    if (
        f is None or df1 is None or df2 is None
        or not df1 > 0 or not df2 > 0 or math.isnan(f)
    ):
        return float("nan")
    if f <= 0.0:
        return 1.0
    if math.isinf(f):
        return 0.0
    x = df2 / (df2 + df1 * f)
    return min(1.0, max(0.0, _betainc(df2 / 2.0, df1 / 2.0, x)))


@pandas_udf(_DOUBLE)
def bh_f_pvalue(f: pd.Series, df1: pd.Series, df2: pd.Series) -> pd.Series:
    return pd.Series(
        [_f_pvalue(fv, d1, d2) for fv, d1, d2 in zip(f, df1, df2)],
        dtype="float64",
    )


@pandas_udf(_DOUBLE)
def bh_norm_ppf(p: pd.Series) -> pd.Series:
    return p.map(_null_safe(_norm_ppf))


_ANOVA_RESULT = StructType([
    StructField("f_statistic", DoubleType()),
    StructField("p_value", DoubleType()),
])


def _anova(pairs) -> tuple[float, float]:
    """One-way ANOVA over one group's collected (g, v) pairs: the
    per-group subtotal accumulation, F statistic, and upper-tail
    p-value in a single pass (the SQL-fold formulation re-evaluated
    this O(n log n) work once per textual reference; one Arrow batch
    computes it exactly once). NULL pairs never arrive
    (collect_list skips them); k < 2 or N ≤ k → (NaN, NaN)."""
    nan = float("nan")
    sums: dict[str, float] = {}
    counts: dict[str, int] = {}
    tot = 0.0
    sxx = 0.0
    n = 0
    for e in pairs if pairs is not None else []:
        g, v = e["g"], e["v"]
        sums[g] = sums.get(g, 0.0) + v
        counts[g] = counts.get(g, 0) + 1
        tot += v
        sxx += v * v
        n += 1
    k = len(sums)
    if k < 2 or n <= k:
        return (nan, nan)
    s = sum(sg * sg / counts[g] for g, sg in sums.items())
    ssb = s - tot * tot / n
    ssw = sxx - s
    df1 = float(k - 1)
    df2 = float(n - k)
    f = (ssb / df1) / max(ssw / df2, 1e-300)
    return (f, _f_pvalue(f, df1, df2))


_KS_RESULT = StructType([
    StructField("d_statistic", DoubleType()),
    StructField("p_value", DoubleType()),
])

# Path-count DP is O(n0·n1) bigint adds; beyond this the asymptotic
# series is indistinguishable anyway (CH's 'auto' switches the same
# way for large samples).
_KS_EXACT_CAP = 1000


def _ks_exact(pairs) -> tuple[float, float]:
    """Two-sample Kolmogorov-Smirnov with the EXACT small-sample
    p-value over the TRUE permutation distribution, ties included.

    D comes from a tie-aware merge walk (ECDF differences at
    distinct-value boundaries only; h = D·n·m as an exact integer).
    The p-value counts label placements: process distinct pooled
    values in order, splitting each tie-group of size c into a copies
    to sample 0 (weight C(c, a)), and prune any state whose boundary
    statistic |i·m − j·n| reaches h — what survives are the
    placements with max < h, so P(D ≥ d) = 1 − A/C(n+m, n). With no
    ties this collapses to the classic lattice path-count. Exact
    integer DP (no float drift); Fraction for the final ratio.
    Cross-checked against full C(n+m, n) enumeration in
    tests/test_dialect.py::TestKsExactMethod."""
    nan = float("nan")
    vals0 = sorted(
        e["v"] for e in (pairs if pairs is not None else [])
        if e is not None and e["i"] == 0
    )
    vals1 = sorted(
        e["v"] for e in (pairs if pairs is not None else [])
        if e is not None and e["i"] != 0
    )
    n, m = len(vals0), len(vals1)
    if n == 0 or m == 0:
        return (nan, nan)
    if n + m > _KS_EXACT_CAP:
        raise ValueError(
            "kolmogorovSmirnovTest method 'exact' is capped at "
            f"n0+n1 <= {_KS_EXACT_CAP} rows per group (the "
            "path-count DP is O(n0*n1)); use method 'asymp'"
        )
    # tie-group sizes over the pooled sample + observed h
    i = j = 0
    h = 0
    groups: list[int] = []
    while i < n or j < m:
        if j >= m or (i < n and vals0[i] <= vals1[j]):
            x = vals0[i]
        else:
            x = vals1[j]
        c = 0
        while i < n and vals0[i] == x:
            i += 1
            c += 1
        while j < m and vals1[j] == x:
            j += 1
            c += 1
        groups.append(c)
        h = max(h, abs(i * m - j * n))
    d = h / (n * m)
    if h == 0:
        return (0.0, 1.0)
    from fractions import Fraction
    from math import comb

    # A[i] = weighted count of placements with i pooled items in
    # sample 0 so far, all boundaries strictly below h
    a_cnt: dict[int, int] = {0: 1}
    done = 0
    for c in groups:
        nxt: dict[int, int] = {}
        done += c
        for i_prev, ways in a_cnt.items():
            for a in range(0, min(c, n - i_prev) + 1):
                i_new = i_prev + a
                j_new = done - i_new
                if j_new > m:
                    continue
                if abs(i_new * m - j_new * n) >= h:
                    continue
                nxt[i_new] = nxt.get(i_new, 0) + ways * comb(c, a)
        a_cnt = nxt
        if not a_cnt:
            break
    surviving = a_cnt.get(n, 0)
    p = float(1 - Fraction(surviving, comb(n + m, n)))
    return (d, min(max(p, 0.0), 1.0))


@pandas_udf(_KS_RESULT)
def bh_ks_exact(pairs: pd.Series) -> pd.DataFrame:
    out = [_ks_exact(p) for p in pairs]
    return pd.DataFrame(
        {"d_statistic": [o[0] for o in out],
         "p_value": [o[1] for o in out]}
    )


@pandas_udf(_ANOVA_RESULT)
def bh_anova(pairs: pd.Series) -> pd.DataFrame:
    out = [_anova(p) for p in pairs]
    return pd.DataFrame(
        {"f_statistic": [o[0] for o in out],
         "p_value": [o[1] for o in out]}
    )


_GEOHASH_BOX_CAP = 200_000


def _geohashes_in_box(
    lon_min, lat_min, lon_max, lat_max, precision
) -> list[str] | None:
    """Enumerate the precision-p geohash cells intersecting the box
    (CH geohashesInBox): the grid pitch at precision p is
    360/2^ceil(5p/2) × 180/2^floor(5p/2); cells are emitted from
    their centers via the shared encoder. Boundary-touching cells are
    included (CH's contract); an empty/inverted box → []. The cell
    count is capped so one row can't materialize millions of strings
    — raise with guidance instead."""
    if any(
        v is None
        for v in (lon_min, lat_min, lon_max, lat_max, precision)
    ):
        return None
    p = max(1, min(12, int(precision)))
    if lon_max < lon_min or lat_max < lat_min:
        return []
    lon_bits = (5 * p + 1) // 2
    lat_bits = (5 * p) // 2
    dlon = 360.0 / (1 << lon_bits)
    dlat = 180.0 / (1 << lat_bits)
    i0 = int(math.floor((max(lon_min, -180.0) + 180.0) / dlon))
    i1 = int(math.floor((min(lon_max, 180.0) + 180.0) / dlon))
    j0 = int(math.floor((max(lat_min, -90.0) + 90.0) / dlat))
    j1 = int(math.floor((min(lat_max, 90.0) + 90.0) / dlat))
    i1 = min(i1, (1 << lon_bits) - 1)
    j1 = min(j1, (1 << lat_bits) - 1)
    count = max(0, i1 - i0 + 1) * max(0, j1 - j0 + 1)
    if count > _GEOHASH_BOX_CAP:
        raise ValueError(
            f"geohashesInBox: {count} cells exceed the per-row cap "
            f"({_GEOHASH_BOX_CAP}); lower the precision or shrink "
            "the box"
        )
    out = []
    for j in range(j0, j1 + 1):
        lat_c = -90.0 + (j + 0.5) * dlat
        for i in range(i0, i1 + 1):
            lon_c = -180.0 + (i + 0.5) * dlon
            out.append(_geohash_encode(lon_c, lat_c, p))
    return out


# Mirrors functions/text.py LANG_MARKERS (tests assert the two stay
# identical) — duplicated here because this module ships by value to
# executors and must not import sibling package modules at unpickle.
_LANG_MARKERS = {
    "en": ["the", "and", "of", "to", "a"],
    "es": ["la", "el", "de", "que", "y"],
    "fr": ["le", "la", "de", "et", "un"],
    "de": ["der", "die", "und", "das", "ein"],
    "zh": ["的", "是", "了", "在", "我"],
}


def _detect_language(text: str) -> str:
    """Stopword-marker language ID — the same heuristic as
    functions/text.py language_id (marker-hit argmax, 'und' when no
    marker matches, alphabetical tie-break). CH's detectLanguage uses
    CLD2 models that do not ship; this is the documented in-engine
    substitute and agrees with the text_language_id operator."""
    toks = set(text.split(" "))
    best, best_score = "und", 0
    for lang in sorted(_LANG_MARKERS):
        score = sum(1 for w in _LANG_MARKERS[lang] if w in toks)
        if score > best_score:
            best, best_score = lang, score
    return best


@pandas_udf(_STRING)
def bh_detect_language(text: pd.Series) -> pd.Series:
    return text.map(_null_safe(_detect_language))


def _series_period_fft(arr) -> float:
    """Dominant-period detection via the real FFT (CH
    seriesPeriodDetectFFT's contract: a Float64 period, NaN when no
    period is detectable): mean-detrend, rfft, argmax magnitude over
    the non-DC bins, period = round(n / k). Needs ≥ 4 points and a
    non-constant series."""
    import numpy as np

    if arr is None:
        return None
    x = np.asarray(
        [float(v) for v in arr if v is not None], dtype="float64"
    )
    n = x.size
    if n < 4 or not np.isfinite(x).all():
        return float("nan")
    x = x - x.mean()
    if not x.any():
        return float("nan")
    mags = np.abs(np.fft.rfft(x))
    k = int(mags[1:].argmax()) + 1  # skip the DC bin
    if mags[k] <= 0:
        return float("nan")
    return float(round(n / k))


@pandas_udf(_DOUBLE)
def bh_series_period_fft(arr: pd.Series) -> pd.Series:
    return pd.Series(
        [_series_period_fft(v) for v in arr], dtype="float64"
    )


@pandas_udf(ArrayType(StringType()))
def bh_geohashes_in_box(
    lon_min: pd.Series,
    lat_min: pd.Series,
    lon_max: pd.Series,
    lat_max: pd.Series,
    precision: pd.Series,
) -> pd.Series:
    return pd.Series(
        [
            _geohashes_in_box(a, b, c, d, p)
            for a, b, c, d, p in zip(
                lon_min, lat_min, lon_max, lat_max, precision
            )
        ]
    )


@pandas_udf(_DOUBLE)
def bh_spearman(x: pd.Series, y: pd.Series) -> float:
    """GROUPED-AGG UDF (Series → scalar): rankCorr — Spearman's ρ
    with average ranks for ties (CH semantics): Pearson correlation
    of the tie-averaged rank vectors. Vectorized pandas ``rank``
    (O(n log n)) + numpy moments; pairs with NaN in either side are
    dropped (SQL NULL arrives as NaN through Arrow — documented
    indistinguishability). n < 2 or a zero-variance side → None
    (Arrow's ``from_pandas`` would flatten a returned NaN to null
    anyway; the rankCorr BUILDER coalesces the null back to a real
    NaN JVM-side, where it survives, matching CH). Rank-pairing is a
    rank JOIN, which no single Catalyst aggregate expresses without
    an O(n²) in-lambda rescan — the Arrow-batched grouped aggregate
    is the fast path here."""
    ok = x.notna() & y.notna()
    xs, ys = x[ok], y[ok]
    if len(xs) < 2:
        return None
    rx = xs.rank(method="average").to_numpy(dtype="float64")
    ry = ys.rank(method="average").to_numpy(dtype="float64")
    dx, dy = rx - rx.mean(), ry - ry.mean()
    den = math.sqrt(float((dx * dx).sum()) * float((dy * dy).sum()))
    if den <= 0.0:
        return None
    return float((dx * dy).sum()) / den


@pandas_udf(_DOUBLE)
def bh_lz4_ratio(v: pd.Series) -> float:
    """GROUPED-AGG UDF (Series → scalar): estimateCompressionRatio
    backed by the engine's own LZ4 block codec (``compress.py``) —
    uncompressed/compressed byte ratio of the group's values
    serialized as newline-joined UTF-8 (strings/blobs verbatim,
    other types via str). Per-group values collect in the worker,
    the same caveat as every collect-based aggregate; compress in
    1 MiB blocks like the wire codec so huge groups stay bounded.

    NOTE: ``compress`` is imported at module level and shipped by
    value below — an executor-side ``from bighouse_spark...`` import
    inside the UDF body dies with ModuleNotFoundError whenever the
    worker cannot import the package (round-11 fix; this was the
    one closure violating the _shipping contract)."""
    vals = v.dropna()
    if not len(vals):
        return float("nan")
    data = b"\n".join(
        x if isinstance(x, (bytes, bytearray)) else str(x).encode()
        for x in vals
    )
    if not data:
        return 1.0
    compressed = sum(
        len(_compress.lz4_compress(data[i:i + _compress.MAX_BLOCK]))
        for i in range(0, len(data), _compress.MAX_BLOCK)
    )
    return len(data) / max(1, compressed)


# -- JVM / GCC / Kafka interop hashes (bit-exact) ---------------------
#
# Unlike the 64-bit "capability twin" hash spellings (murmurHash2_64
# et al. → xxhash64 — deterministic but not bit-compatible), these
# four exist ONLY for their exact values — javaHash/hiveHash for JVM
# interop, kafkaMurmurHash for Kafka partition parity, gccMurmurHash
# for libstdc++ std::hash parity — so they are implemented from the
# published algorithms and verified against published anchors
# (String.hashCode vectors; hand-derived MurmurHash2 finalizers).
# String (UTF-8 byte) input only, like CH's own string-hash path.

_M32 = 0xFFFFFFFF
_M64 = 0xFFFFFFFFFFFFFFFF


def _java_hash(s: str) -> int:
    """Java String.hashCode(): h = 31*h + c over UTF-16 code units,
    wrapping at 32 bits, sign-extended."""
    h = 0
    b = s.encode("utf-16-be")
    for i in range(0, len(b), 2):
        h = (31 * h + ((b[i] << 8) | b[i + 1])) & _M32
    return h - (1 << 32) if h >= (1 << 31) else h


def _murmur64a(data: bytes, seed: int) -> int:
    """MurmurHash64A (public domain reference; also the exact loop
    libstdc++'s _Hash_bytes runs — shift_mix(k*m)*m is k*=m, k^=k>>47,
    k*=m in its algebra)."""
    m = 0xC6A4A7935BD1E995
    h = (seed ^ ((len(data) * m) & _M64)) & _M64
    n = len(data) - (len(data) % 8)
    for i in range(0, n, 8):
        k = int.from_bytes(data[i:i + 8], "little")
        k = (k * m) & _M64
        k ^= k >> 47
        k = (k * m) & _M64
        h ^= k
        h = (h * m) & _M64
    tail = data[n:]
    if tail:
        h ^= int.from_bytes(tail, "little")
        h = (h * m) & _M64
    h ^= h >> 47
    h = (h * m) & _M64
    h ^= h >> 47
    return h


def _murmur2_32(data: bytes, seed: int) -> int:
    """MurmurHash2 32-bit (public domain reference)."""
    m = 0x5BD1E995
    h = (seed ^ len(data)) & _M32
    n = len(data) - (len(data) % 4)
    for i in range(0, n, 4):
        k = int.from_bytes(data[i:i + 4], "little")
        k = (k * m) & _M32
        k ^= k >> 24
        k = (k * m) & _M32
        h = (h * m) & _M32
        h ^= k
    left = len(data) % 4
    if left >= 3:
        h ^= data[n + 2] << 16
    if left >= 2:
        h ^= data[n + 1] << 8
    if left >= 1:
        h ^= data[n]
        h = (h * m) & _M32
    h ^= h >> 13
    h = (h * m) & _M32
    h ^= h >> 15
    return h


def _json_merge_patch(target, patch):
    """RFC 7386: objects merge recursively, null deletes, anything
    else replaces."""
    if not isinstance(patch, dict):
        return patch
    out = dict(target) if isinstance(target, dict) else {}
    for k, v in patch.items():
        if v is None:
            out.pop(k, None)
        else:
            out[k] = _json_merge_patch(out.get(k), v)
    return out


@pandas_udf(_STRING)
def bh_json_merge_patch(a: pd.Series, b: pd.Series) -> pd.Series:
    import json as _json

    def merge(x, y):
        try:
            return _json.dumps(
                _json_merge_patch(_json.loads(x), _json.loads(y)),
                separators=(",", ":"),
            )
        except Exception:
            return None

    return _pair_map(a, b, merge)


@pandas_udf(IntegerType())
def bh_java_hash(s: pd.Series) -> pd.Series:
    return s.map(_null_safe(_java_hash))


@pandas_udf(IntegerType())
def bh_hive_hash(s: pd.Series) -> pd.Series:
    # hiveHash = javaHash with the sign bit zeroed.
    return s.map(_null_safe(lambda v: _java_hash(v) & 0x7FFFFFFF))


@pandas_udf(DecimalType(20, 0))
def bh_gcc_murmur(s: pd.Series) -> pd.Series:
    # libstdc++ _Hash_bytes seed (0xc70f6907) over UTF-8 bytes;
    # DECIMAL(20,0) carries the UInt64 range like cityHash64Exact.
    from decimal import Decimal as _D

    return s.map(
        _null_safe(lambda v: _D(_murmur64a(v.encode("utf-8"), 0xC70F6907)))
    )


@pandas_udf(LongType())
def bh_kafka_murmur(s: pd.Series) -> pd.Series:
    # Kafka's partitioner hash: MurmurHash2/32 with seed 0x9747b28c,
    # highest bit dropped (Kafka's toPositive), like CH.
    return s.map(
        _null_safe(
            lambda v: _murmur2_32(v.encode("utf-8"), 0x9747B28C)
            & 0x7FFFFFFF
        )
    )


ALL = {
    "bh_jumphash": bh_jumphash,
    "bh_kostikhash": bh_kostikhash,
    "bh_damerau": bh_damerau,
    "bh_jaro": bh_jaro,
    "bh_jaro_winkler": bh_jaro_winkler,
    "bh_base58_encode": bh_base58_encode,
    "bh_base58_decode": bh_base58_decode,
    "bh_punycode_encode": bh_punycode_encode,
    "bh_punycode_decode": bh_punycode_decode,
    "bh_erf": bh_erf,
    "bh_erfc": bh_erfc,
    "bh_lgamma": bh_lgamma,
    "bh_tgamma": bh_tgamma,
    "bh_nfc": bh_nfc,
    "bh_nfd": bh_nfd,
    "bh_nfkc": bh_nfkc,
    "bh_nfkd": bh_nfkd,
    "bh_geohash_encode": bh_geohash_encode,
    "bh_geohash_decode": bh_geohash_decode,
    "bh_idna_encode": bh_idna_encode,
    "bh_idna_decode": bh_idna_decode,
    "bh_lz4_ratio": bh_lz4_ratio,
    "bh_spearman": bh_spearman,
    "bh_t_pvalue2": bh_t_pvalue2,
    "bh_f_pvalue": bh_f_pvalue,
    "bh_anova": bh_anova,
    "bh_ks_exact": bh_ks_exact,
    "bh_norm_ppf": bh_norm_ppf,
    "bh_geohashes_in_box": bh_geohashes_in_box,
    "bh_detect_language": bh_detect_language,
    "bh_series_period_fft": bh_series_period_fft,
    "bh_json_merge_patch": bh_json_merge_patch,
    "bh_base32_encode": bh_base32_encode,
    "bh_base32_decode": bh_base32_decode,
    "bh_java_hash": bh_java_hash,
    "bh_hive_hash": bh_hive_hash,
    "bh_gcc_murmur": bh_gcc_murmur,
    "bh_kafka_murmur": bh_kafka_murmur,
}


# Executor-side closures live here: ship this module's code by value
# so workers need not import the package (see functions/_shipping.py).
import sys as _sys

from bighouse_spark.functions._shipping import ship_by_value as _ship

_ship(_sys.modules[__name__])
_ship(_compress)
