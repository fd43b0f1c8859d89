"""compute_stats() UDAF — Hive's GenericUDAFComputeStats
(ql/src/java/org/apache/hadoop/hive/ql/udf/generic/
GenericUDAFComputeStats.java): per-column statistical summary structs,
including the Flajolet-Martin NDV bit vectors, reproduced BIT-EXACTLY.

The FM sketch (NumDistinctValueEstimator.java:40-358) draws its hash
parameters from java.util.Random with FIXED seeds (99397 / 9876413 —
NumDistinctValueEstimator.java:80-81), so the exact bit vectors Hive's
goldens print are reproducible: this module implements Java's 48-bit
LCG, the odd-(a,b) draw, the (a*v+b) mod (2^31-1) hash with Java long
overflow wraparound, and the least-significant-set-bit vector update.

Output is the DISPLAY STRING of the result struct (the engine compares
CLI framing; entry order is canonicalized by the harness on both
sides), computed via an Arrow-batched grouped-aggregate pandas UDF —
partial aggregation happens in pandas batches, one reduce at the end,
same distribution shape as Hive's partial1/final UDAF plan.
"""

from __future__ import annotations

import math

from apache_hive_2_1_1_src_spark.operators.bucketing import (
    hive_hash_value,
    java_string_hashcode,
    to_int32,
)

_MASK48 = (1 << 48) - 1
_BVSIZE = 31


def _i64(v: int) -> int:
    v &= 0xFFFFFFFFFFFFFFFF
    return v - (1 << 64) if v >= 1 << 63 else v


class JavaRandom:
    """java.util.Random's 48-bit LCG (public algorithm from the Java
    SE specification) — reproduces the FM sketch's fixed-seed a/b draws
    and NumericHistogram's tie-break draws (percentile_approx)."""

    def __init__(self, seed: int):
        self.seed = (seed ^ 0x5DEECE66D) & _MASK48

    def _next(self, bits: int) -> int:
        self.seed = (self.seed * 0x5DEECE66D + 0xB) & _MASK48
        return self.seed >> (48 - bits)

    def next_int(self) -> int:
        return to_int32(self._next(32))

    def next_double(self) -> float:
        return ((self._next(26) << 27) + self._next(27)) / float(1 << 53)


def _gen_ab(num_vectors: int) -> tuple[list[int], list[int]]:
    ra, rb = JavaRandom(99397), JavaRandom(9876413)
    a, b = [], []
    for _ in range(num_vectors):
        v = ra.next_int()
        while v % 2 == 0:
            v = ra.next_int()
        if v < 0:
            v += 1 << (_BVSIZE - 1)
        a.append(v)
        v = rb.next_int()
        while v % 2 == 0:
            v = rb.next_int()
        if v < 0:
            v += 1 << (_BVSIZE - 1)
        b.append(v)
    return a, b


class FMEstimator:
    """NumDistinctValueEstimator.java bit-exact port (fixed seeds)."""

    PHI = 0.77351

    def __init__(self, num_vectors: int):
        self.n = num_vectors
        self.a, self.b = _gen_ab(num_vectors)
        self.bits = [0] * num_vectors  # FastBitSet as an int bitmask

    def _hash(self, v: int, i: int) -> int:
        mod = (1 << _BVSIZE) - 1
        t = _i64(self.a[i] * v + self.b[i])  # Java long wraparound
        # Java % truncates toward zero
        h = abs(t) % mod
        h = h if t >= 0 else -h
        h = to_int32(h)
        if h < 0:
            h += mod
        return h

    def add_long(self, v: int) -> None:
        for i in range(self.n):
            h = self._hash(v, i)
            index = 0
            while index < _BVSIZE:
                if h % 2 != 0:
                    break
                h >>= 1
                index += 1
            self.bits[i] |= 1 << index

    def add_double(self, d: float) -> None:
        self.add_long(hive_hash_value(d, "double"))  # Double.hashCode

    def add_string(self, s: str) -> None:
        self.add_long(java_string_hashcode(s))

    def add_decimal(self, v) -> None:
        self.add_long(hive_hash_value(v, "decimal"))

    def merge(self, other: "FMEstimator") -> None:
        for i in range(self.n):
            self.bits[i] |= other.bits[i]

    def estimate(self) -> int:
        total = 0
        for i in range(self.n):
            idx = 0
            while self.bits[i] >> idx & 1:
                idx += 1
            total += idx
        avg = total / self.n - math.log(self.PHI) / math.log(2.0)
        return int(2.0 ** avg)

    def serialize(self) -> str:
        out = []
        for i in range(self.n):
            set_bits = [
                str(j) for j in range(_BVSIZE + 1) if self.bits[i] >> j & 1
            ]
            out.append("{" + ", ".join(set_bits) + "}")
        return "".join(out)


def _java_double_str(d: float) -> str:
    """Java Double.toString for the avglength, min and max fields (x.0 for
    integral, ``Infinity``/``-Infinity``/``NaN`` for the non-finite)."""
    if math.isnan(d):
        return "NaN"
    if math.isinf(d):
        return "Infinity" if d > 0 else "-Infinity"
    if d == int(d) and abs(d) < 1e7:
        return f"{int(d)}.0"
    return repr(d)


def compute_stats_string(values, num_vectors: int, kind: str) -> str:
    """One column's stats struct rendered in Hive CLI framing.  ``kind``
    ∈ long/double/string/boolean/binary/decimal/date (classified by the
    caller from the column's Spark type)."""
    import datetime
    import decimal as _dec

    nulls = sum(1 for v in values if v is None)
    vals = [v for v in values if v is not None]
    if kind == "boolean":
        t = sum(1 for v in vals if v)
        f = len(vals) - t
        return (
            '{"columntype":"Boolean","counttrues":%d,"countfalses":%d,'
            '"countnulls":%d}' % (t, f, nulls)
        )
    if kind == "binary":
        lens = [len(v) for v in vals]
        mx = max(lens) if lens else 0
        avg = (sum(lens) / len(values)) if values else 0.0
        return (
            '{"columntype":"Binary","maxlength":%d,"avglength":%s,'
            '"countnulls":%d}' % (mx, _java_double_str(avg), nulls)
        )
    est = FMEstimator(num_vectors)
    # Hive's evaluators leave the estimator untouched over empty input:
    # numdistinctvalues prints 0 and the bit vector the EMPTY string
    # (compute_stats_empty_table.q.out)
    ndv = lambda: est.estimate() if vals else 0  # noqa: E731
    bitvec = lambda: est.serialize() if vals else ""  # noqa: E731
    if kind == "string":
        lens = [len(v) for v in vals]
        mx = max(lens) if lens else 0
        avg = (sum(lens) / len(values)) if values else 0.0
        for v in vals:
            est.add_string(v)
        return (
            '{"columntype":"String","maxlength":%d,"avglength":%s,'
            '"countnulls":%d,"numdistinctvalues":%d,"ndvbitvector":"%s"}'
            % (mx, _java_double_str(avg), nulls, ndv(), bitvec())
        )
    if kind == "long":
        for v in vals:
            est.add_long(int(v))
        mn = min(vals) if vals else None
        mx = max(vals) if vals else None
        return (
            '{"columntype":"Long","min":%s,"max":%s,"countnulls":%d,'
            '"numdistinctvalues":%d,"ndvbitvector":"%s"}'
            % (
                "null" if mn is None else int(mn),
                "null" if mx is None else int(mx),
                nulls,
                ndv(),
                bitvec(),
            )
        )
    if kind == "double":
        for v in vals:
            est.add_double(v)
        mn = min(vals) if vals else None
        mx = max(vals) if vals else None
        return (
            '{"columntype":"Double","min":%s,"max":%s,"countnulls":%d,'
            '"numdistinctvalues":%d,"ndvbitvector":"%s"}'
            % (
                "null" if mn is None else _java_double_str(float(mn)),
                "null" if mx is None else _java_double_str(float(mx)),
                nulls,
                ndv(),
                bitvec(),
            )
        )
    if kind == "decimal":
        for v in vals:
            est.add_decimal(v)
        mn = min(vals) if vals else None
        mx = max(vals) if vals else None

        def dec_s(x) -> str:
            # HiveDecimal.toString strips trailing zeros (-87.200 prints
            # -87.2 in compute_stats_decimal.q.out)
            t = _dec.Decimal(x).normalize()
            if t.as_tuple().exponent > 0:
                t = t.quantize(_dec.Decimal(1))
            return format(t, "f")

        return (
            '{"columntype":"Decimal","min":%s,"max":%s,"countnulls":%d,'
            '"numdistinctvalues":%d,"ndvbitvector":"%s"}'
            % (
                "null" if mn is None else dec_s(mn),
                "null" if mx is None else dec_s(mx),
                nulls,
                ndv(),
                bitvec(),
            )
        )
    if kind == "date":
        epoch = datetime.date(1970, 1, 1)
        days = [(v - epoch).days for v in vals]
        for d in days:
            est.add_long(d)  # DateStatsAgg adds getDays()
        mn = min(vals) if vals else None
        mx = max(vals) if vals else None
        return (
            '{"columntype":"Date","min":%s,"max":%s,"countnulls":%d,'
            '"numdistinctvalues":%d,"ndvbitvector":"%s"}'
            % (
                "null" if mn is None else f'"{mn.isoformat()}"',
                "null" if mx is None else f'"{mx.isoformat()}"',
                nulls,
                ndv(),
                bitvec(),
            )
        )
    raise ValueError(f"compute_stats: unsupported column kind {kind!r}")
