"""IPv6 conversion UDFs for the dialect layer.

128-bit address parsing/formatting is not expressible as built-in
column expressions, so these run as Arrow-batched pandas UDFs over the
stdlib ``ipaddress`` module. NOTE: no ``from __future__ import
annotations`` here — pandas_udf resolves the ``pd.Series`` type hints
at registration time, which requires real (non-string) annotations
with ``pd`` importable at module scope.

Registered once per SparkSession by
``dialect.transpile._ensure_udfs`` and only when a query uses them.
"""

import ipaddress

import pandas as pd
from pyspark.sql.functions import pandas_udf


def _fmt6(addr):
    """CH-style rendering: IPv4-mapped addresses keep the dotted
    quad ('::ffff:1.2.3.4'); Python's str() would hex-group them
    ('::ffff:102:304')."""
    v4 = addr.ipv4_mapped
    if v4 is not None:
        return "::ffff:" + str(v4)
    return str(addr)


def _ipv4_mapped(x):
    """Dotted-quad → IPv4-mapped IPv6, None otherwise. The fallback
    must VALIDATE the quad first: '::ffff:' + an arbitrary token can
    itself be a legal IPv6 spelling ('bad' is hex group 0x0bad), so
    the bare concat silently accepted junk (round-11 probe fix)."""
    try:
        v4 = ipaddress.IPv4Address(x)
    except Exception:
        return None
    return ipaddress.IPv6Address("::ffff:" + str(v4))


@pandas_udf("binary")
def bh_ipv6_ston(s: pd.Series) -> pd.Series:
    def conv(x):
        if x is None:
            return None
        try:
            return ipaddress.IPv6Address(x).packed
        except Exception:
            mapped = _ipv4_mapped(x)  # CH accepts dotted IPv4
            return mapped.packed if mapped is not None else None

    return s.map(conv)


@pandas_udf("string")
def bh_ipv6_ntos(b: pd.Series) -> pd.Series:
    def conv(x):
        if x is None:
            return None
        try:
            return _fmt6(ipaddress.IPv6Address(bytes(x)))
        except Exception:
            return None

    return b.map(conv)


@pandas_udf("string")
def bh_ipv6_norm(s: pd.Series) -> pd.Series:
    def conv(x):
        if x is None:
            return None
        try:
            return _fmt6(ipaddress.IPv6Address(x))
        except Exception:
            mapped = _ipv4_mapped(x)  # CH toIPv6 accepts dotted IPv4
            return _fmt6(mapped) if mapped is not None else None

    return s.map(conv)


@pandas_udf("boolean")
def bh_is_ipv6(s: pd.Series) -> pd.Series:
    def conv(x):
        if x is None:
            return None
        try:
            ipaddress.IPv6Address(x)
            return True
        except Exception:
            return False

    return s.map(conv)


@pandas_udf("binary")
def bh_ipv4_to_ipv6(n: pd.Series) -> pd.Series:
    def conv(x):
        if x is None or pd.isna(x):
            return None
        try:
            # IPv4 values in this engine are dotted strings (toIPv4
            # canonicalizes to text); CH users also pass the UInt32.
            if isinstance(x, str) and "." in x:
                v4 = ipaddress.IPv4Address(x)
            else:
                v4 = ipaddress.IPv4Address(int(x))
            return ipaddress.IPv6Address("::ffff:" + str(v4)).packed
        except Exception:
            return None

    return n.map(conv)


@pandas_udf("boolean")
def bh_ip_in_range(addr: pd.Series, cidr: pd.Series) -> pd.Series:
    """CH ``isIPAddressInRange`` — v4 and v6 via stdlib networks.
    Mixed families are False (CH raises; NULL-free False keeps the
    filter usable over mixed logs)."""

    def conv(a, c):
        if a is None or c is None:
            return None
        try:
            return ipaddress.ip_address(a) in ipaddress.ip_network(
                c, strict=False
            )
        except Exception:
            return False

    return pd.Series([conv(a, c) for a, c in zip(addr, cidr)])


@pandas_udf("struct<lo: string, hi: string>")
def bh_ipv6_cidr_range(addr: pd.Series, prefix: pd.Series) -> pd.DataFrame:
    """CH ``IPv6CIDRToRange(addr, prefix)`` → (first, last) of the
    /prefix network containing addr, canonical-formatted. Struct
    return → the UDF yields a DataFrame with one column per field."""

    los, his = [], []
    for a, p in zip(addr, prefix):
        try:
            if a is None or p is None or pd.isna(p):
                raise ValueError
            net = ipaddress.IPv6Network((a, int(p)), strict=False)
            los.append(str(net.network_address))
            his.append(str(net.broadcast_address))
        except Exception:
            los.append(None)
            his.append(None)
    return pd.DataFrame({"lo": los, "hi": his})


ALL = {
    "bh_ipv6_ston": bh_ipv6_ston,
    "bh_ipv6_ntos": bh_ipv6_ntos,
    "bh_ipv6_norm": bh_ipv6_norm,
    "bh_is_ipv6": bh_is_ipv6,
    "bh_ipv4_to_ipv6": bh_ipv4_to_ipv6,
    "bh_ip_in_range": bh_ip_in_range,
    "bh_ipv6_cidr_range": bh_ipv6_cidr_range,
}


# Executor-side closures live here: ship this module's code by value
# so workers need not import the package (see functions/_shipping.py).
import sys as _sys

from bighouse_spark.functions._shipping import ship_by_value as _ship

_ship(_sys.modules[__name__])
