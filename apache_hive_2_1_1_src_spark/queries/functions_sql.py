"""Scalar function catalog + UDTF / extension surface.

Reference (SURVEY.md §2.5-2.7): FunctionRegistry.java:183-520's 247
registrations, exercised by category; UDTFs (GenericUDTFExplode.java:43,
json_tuple, stack, parse_url_tuple) and LATERAL VIEW
(LateralViewJoinOperator.java:162, grammar HiveParser.g:290-291); the
UDF/UDAF registration surface (GenericUDF.java:66,
GenericUDAFEvaluator.java:67-85 → spark.udf.register / pandas_udf).

Everything except the two deliberate slow-path demos (q69/q70) is JVM
builtins inside whole-stage codegen — the 100 TB hot path never enters
Python.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from apache_hive_2_1_1_src_spark.functions.compat import elt, field, nvl, parse_url_tuple
from apache_hive_2_1_1_src_spark.queries._util import t


def q50_string_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String batch (FunctionRegistry.java:183-269): concat/concat_ws, case
    mapping, substr, trim family, pads, reverse, repeat, ascii, replace,
    regexp_replace/extract, split, instr, length, levenshtein."""
    c = t(spark, sf_dir, "customer").filter(F.col("c_custkey") <= 50)
    name = F.col("c_name")
    return c.select(
        "c_custkey",
        F.concat_ws("/", name, F.col("c_mktsegment")).alias("joined"),
        F.upper(name).alias("up"),
        F.lower(name).alias("lo"),
        F.substring(name, 1, 8).alias("sub8"),
        F.length(name).alias("len"),
        F.trim(F.lpad(name, 12, " ")).alias("trimmed"),
        F.rpad(name, 14, ".").alias("padded"),
        F.reverse(name).alias("rev"),
        F.repeat(F.substring(name, 1, 2), 3).alias("rep"),
        F.ascii(name).alias("first_ascii"),
        F.regexp_replace(name, "[0-9]+", "#").alias("no_digits"),
        F.regexp_extract(name, "([0-9]+)", 1).alias("digits"),
        F.split(name, "#").getItem(0).alias("before_hash"),
        F.instr(name, "1").alias("pos_one"),
        F.levenshtein(name, F.lit("Customer#1")).alias("lev"),
    )


def q51_math_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Math batch (FunctionRegistry.java:197-235)."""
    p = t(spark, sf_dir, "part").filter(F.col("p_partkey") <= 100)
    x = F.col("p_retailprice")
    return p.select(
        "p_partkey",
        F.round(x, 1).alias("rnd1"),
        F.floor(x).alias("flr"),
        F.ceil(x).alias("cl"),
        F.abs(x - 1000.0).alias("ab"),
        F.pmod(F.col("p_size"), F.lit(7)).alias("pm"),
        F.round(F.sqrt(x), 6).alias("sq"),
        F.round(F.cbrt(x), 6).alias("cb"),
        F.round(F.exp(F.col("p_size") / 25.0), 6).alias("ex"),
        F.round(F.log(x), 6).alias("ln_"),
        F.round(F.log10(x), 6).alias("l10"),
        F.round(F.log2(x), 6).alias("l2"),
        F.round(F.pow(x, 0.5), 6).alias("pw"),
        F.signum(x - 1000.0).alias("sgn"),
        F.round(F.degrees(F.col("p_size") / 10.0), 6).alias("deg"),
        F.round(F.radians(F.col("p_size")), 6).alias("rad"),
        F.factorial(F.pmod(F.col("p_size"), F.lit(10))).alias("fact"),
        F.hex(F.col("p_partkey")).alias("hx"),
        F.round(F.sin(x / 100.0) + F.cos(x / 100.0) + F.atan(x / 100.0), 6).alias("trig"),
    )


def q52_date_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Date/time batch (FunctionRegistry.java:274-296,440-444)."""
    o = t(spark, sf_dir, "orders").filter(F.col("o_orderkey") <= 500)
    d = F.col("o_orderdate")
    return o.select(
        "o_orderkey",
        F.year(d).alias("yr"),
        F.quarter(d).alias("qtr"),
        F.month(d).alias("mo"),
        F.dayofmonth(d).alias("dom"),
        F.weekofyear(d).alias("woy"),
        F.date_format(d, "yyyy-MM").alias("ym"),
        F.last_day(d).alias("month_end"),
        F.date_add(d.cast("date"), 30).alias("plus30"),
        F.date_sub(d.cast("date"), 7).alias("minus7"),
        F.add_months(d.cast("date"), 2).alias("plus2mo"),
        F.datediff(F.lit("2000-01-01").cast("date"), d.cast("date")).alias("days_to_y2k"),
        F.trunc(d.cast("date"), "mm").alias("month_start"),
        F.unix_timestamp(d).alias("epoch_s"),
        F.to_date(d).alias("as_date"),
    )


def q53_conditional(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conditional/null batch (FunctionRegistry.java:328-346,423-438): if,
    nvl, nullif, coalesce, case/when, least/greatest, isnull."""
    c = t(spark, sf_dir, "customer")
    bal = F.col("c_acctbal")
    null_when_neg = F.when(bal >= 0, bal)  # NULL for negative balances
    return c.select(
        "c_custkey",
        F.when(bal > 5000, "high").when(bal > 0, "mid").otherwise("low").alias("tier"),
        nvl(null_when_neg, -1.0).alias("bal_or_neg1"),
        F.nullif(F.col("c_mktsegment"), F.lit("BUILDING")).alias("seg_nb"),
        F.coalesce(F.nullif(F.col("c_mktsegment"), F.lit("BUILDING")), F.lit("DEFAULT")).alias(
            "seg_dflt"
        ),
        F.least(bal, F.lit(1000.0)).alias("capped"),
        F.greatest(bal, F.lit(0.0)).alias("floored"),
        bal.isNull().alias("is_null_bal"),
        (F.col("c_nationkey").between(5, 10)).alias("nk_in_range"),
    )


def q54_bitwise(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arithmetic/bitwise operators (FunctionRegistry.java:308-321)."""
    n = t(spark, sf_dir, "nation")
    k = F.col("n_nationkey")
    return n.select(
        "n_nationkey",
        k.bitwiseAND(F.lit(5)).alias("band"),
        k.bitwiseOR(F.lit(8)).alias("bor"),
        k.bitwiseXOR(F.lit(3)).alias("bxor"),
        F.shiftleft(k, 2).alias("shl"),
        F.shiftright(k, 1).alias("shr"),
        F.bitwise_not(k).alias("bnot"),
        (k % 4).alias("mod4"),
        F.floor(k / 3).cast("long").alias("intdiv3"),
    )


def q55_cast_permissive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hive permissive casts (UDFToInteger etc., SURVEY.md §2.5 Casts): with
    ANSI off, malformed string→number yields NULL, never an error — the
    oracle uses TRY_CAST for identical semantics."""
    c = t(spark, sf_dir, "customer").filter(F.col("c_custkey") <= 100)
    mixed = F.concat(F.col("c_custkey").cast("string"), F.lit("x"))
    return c.select(
        "c_custkey",
        F.col("c_custkey").cast("string").cast("int").alias("roundtrip_int"),
        mixed.cast("int").alias("junk_int_null"),
        F.col("c_acctbal").cast("int").alias("bal_trunc"),
        F.col("c_acctbal").cast("string").alias("bal_str"),
        F.lit("3.75").cast("double").alias("str_dbl"),
        F.lit("true").cast("boolean").alias("str_bool"),
        F.col("c_nationkey").cast("tinyint").alias("nk_tiny"),
        F.col("c_custkey").cast("decimal(18,2)").cast("double").alias("via_decimal"),
    )


def q56_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """get_json_object (UDFJson.java, FunctionRegistry.java:296) over the
    events.props JSON column, plus from_json typed extraction."""
    e = t(spark, sf_dir, "events")
    return (
        e.select(
            "event_type",
            F.get_json_object("props", "$.k").cast("int").alias("k"),
        )
        .groupBy("event_type")
        .agg(
            F.count("k").alias("n_k"),
            F.sum("k").alias("sum_k"),
            F.min("k").alias("min_k"),
            F.max("k").alias("max_k"),
        )
        .orderBy("event_type")
    )


def q57_parse_url(spark: SparkSession, sf_dir: str) -> DataFrame:
    """parse_url + parse_url_tuple (GenericUDFParseUrl.java,
    GenericUDTFParseUrlTuple.java) over URLs synthesized from table data."""
    e = t(spark, sf_dir, "events").filter(F.col("event_id") <= 200)
    url = F.concat(
        F.lit("https://example.com/"),
        F.col("event_type"),
        F.lit("/page?uid="),
        F.col("user_id").cast("string"),
        F.lit("&v=2#frag"),
    )
    return e.select(
        "event_id",
        *parse_url_tuple(url, "HOST", "PATH", "QUERY", "QUERY:uid", "REF", "PROTOCOL"),
    )


def q58_hash_crypto(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hash/crypto batch (FunctionRegistry.java:227-241): md5, sha1, sha2,
    base64/unbase64, crc32."""
    d = t(spark, sf_dir, "documents").filter(F.col("doc_id") <= 100)
    txt = F.col("text")
    return d.select(
        "doc_id",
        F.md5(txt).alias("md5_hex"),
        F.sha2(txt, 256).alias("sha256_hex"),
        F.base64(F.substring(txt, 1, 12).cast("binary")).alias("b64"),
        F.unbase64(F.base64(F.substring(txt, 1, 12).cast("binary"))).cast("string").alias(
            "b64_roundtrip"
        ),
    )


def hash_extra_full(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All hash columns + independent-reference certificates: the JVM
    builtins sha1/crc32 are cross-checked in-plan against Python's
    hashlib/zlib (an INDEPENDENT implementation — the one place a
    row-UDF is the verification, not the operator; 51 rows)."""
    import hashlib
    import zlib

    py_sha1 = F.udf(lambda s: hashlib.sha1(s.encode()).hexdigest(), "string")
    py_crc32 = F.udf(lambda s: zlib.crc32(s[:16].encode()) & 0xFFFFFFFF, "long")
    d = t(spark, sf_dir, "documents").filter(F.col("doc_id") <= 50)
    txt = F.col("text")
    return d.select(
        "doc_id",
        F.md5(txt).alias("md5_hex"),
        F.sha1(txt).alias("sha1_hex"),
        F.crc32(F.substring(txt, 1, 16).cast("binary")).alias("crc"),
        F.hash(txt).alias("murmur32"),
        F.xxhash64(txt).alias("xx64"),
        (F.sha1(txt) == py_sha1(txt)).alias("sha1_ok"),
        (F.crc32(F.substring(txt, 1, 16).cast("binary")) == py_crc32(txt)).alias(
            "crc32_ok"
        ),
    )


def q68_hash_extra(spark: SparkSession, sf_dir: str) -> DataFrame:
    """sha1 / crc32 / murmur hash / xxhash64 (FunctionRegistry.java:227-241;
    Spark's hash is Murmur3 — SURVEY.md §2.5 notes the divergence from
    Hive's Java hashCode, which SQL hash() gets from
    operators/bucketing.hive_hash_value).
    DuckDB lacks sha1/crc32, so the oracle checks md5 directly plus
    hashlib/zlib reference certificates for sha1/crc32 (upgraded from
    rows-only, round 5); murmur32/xx64 determinism is pytest-pinned via
    hash_extra_full."""
    return hash_extra_full(spark, sf_dir).select(
        "doc_id", "md5_hex", "sha1_ok", "crc32_ok"
    )


def q59_str_to_map(spark: SparkSession, sf_dir: str) -> DataFrame:
    """str_to_map (GenericUDFStringToMap.java) + map accessors
    (map_keys/map_values, FunctionRegistry.java:413-435)."""
    c = t(spark, sf_dir, "customer").filter(F.col("c_custkey") <= 100)
    kv = F.concat(
        F.lit("seg:"), F.col("c_mktsegment"), F.lit(",nk:"), F.col("c_nationkey").cast("string")
    )
    m = F.str_to_map(kv, F.lit(","), F.lit(":"))
    return c.select(
        "c_custkey",
        m.getItem("seg").alias("seg_val"),
        m.getItem("nk").cast("int").alias("nk_val"),
        F.size(m).alias("n_entries"),
        F.array_join(F.array_sort(F.map_keys(m)), ",").alias("keys_sorted"),
    )


def q60_array_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Complex-type constructors/accessors (FunctionRegistry.java:413-435):
    array, size, array_contains, sort_array, element access, named_struct."""
    d = t(spark, sf_dir, "documents").filter(F.col("doc_id") <= 200)
    words = F.split(F.col("text"), " ")
    return d.select(
        "doc_id",
        F.size(words).alias("n_words"),
        F.array_contains(words, "data").alias("has_data"),
        F.element_at(words, 1).alias("first_word"),
        F.element_at(words, -1).alias("last_word"),
        F.array_join(F.slice(F.array_sort(words), 1, 3), ",").alias("top3_sorted"),
        F.struct(F.col("lang").alias("l"), F.col("source").alias("s"))
        .getField("l")
        .alias("lang_via_struct"),
    )


def q61_explode_lateral(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LATERAL VIEW explode (GenericUDTFExplode.java:43,
    LateralViewJoinOperator.java:162): word frequency per language."""
    d = t(spark, sf_dir, "documents")
    return (
        d.select("lang", F.explode(F.split(F.col("text"), " ")).alias("word"))
        .groupBy("lang", "word")
        .agg(F.count(F.lit(1)).alias("freq"))
        .filter(F.col("freq") >= 5)
    )


def q62_posexplode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """posexplode (GenericUDTFPosExplode): token with 0-based position."""
    d = t(spark, sf_dir, "documents").filter(F.col("doc_id") <= 50)
    return d.select(
        "doc_id", F.posexplode(F.split(F.col("text"), " ")).alias("pos", "tok")
    ).filter(F.col("pos") < 5)


def q153_explode_map(spark: SparkSession, sf_dir: str) -> DataFrame:
    """explode on a MAP emits (key, value) pairs — GenericUDTFExplode's
    two-column map mode (LATERAL VIEW explode(map_col) t AS k, v).  The
    map is built with str_to_map over a serialized k=v string."""
    ev = t(spark, sf_dir, "events").filter(F.col("event_id") <= 2000)
    kv = F.concat(
        F.lit("type="), F.col("event_type"),
        F.lit(",uid="), F.col("user_id").cast("string"),
    )
    m = ev.select(
        "event_id",
        F.explode(F.str_to_map(kv, F.lit(","), F.lit("="))).alias("k", "v"),
    )
    return m.orderBy("event_id", "k")


def q154_null_semantics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hive NULL semantics pack (ANSI off): every division/modulo by zero
    yields NULL (GenericUDFOPDivide returns null, never an error), NULL
    propagates through arithmetic and concat, and <=> is the NULL-safe
    equality (GenericUDFOPEqualNS).  Oracle mirrors with NULLIF guards,
    || (DuckDB concat() skips NULLs; || propagates), and
    IS NOT DISTINCT FROM."""
    o = t(spark, sf_dir, "orders").filter(F.col("o_orderkey") <= 3000)
    nullable = F.when(F.col("o_orderkey") % 5 == 0, None).otherwise(
        F.col("o_custkey")
    )
    zero_div = F.col("o_orderkey") % 3
    return o.select(
        "o_orderkey",
        F.round(F.col("o_totalprice") / zero_div, 4).alias("div_or_null"),
        (F.col("o_custkey") % (F.col("o_orderkey") % 2)).alias("mod_or_null"),
        nullable.alias("nullable_key"),
        nullable.eqNullSafe(F.col("o_custkey")).alias("ns_eq_self"),
        nullable.eqNullSafe(F.lit(None)).alias("ns_eq_null"),
        (nullable + F.lit(1)).alias("null_plus"),
        F.concat(F.lit("k="), nullable.cast("string")).alias("null_concat"),
    ).orderBy("o_orderkey")


def q63_stack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """stack UDTF (GenericUDTFStack): pivot columns into rows."""
    n = t(spark, sf_dir, "nation").filter(F.col("n_nationkey") < 5)
    return n.select(
        "n_nationkey",
        F.expr(
            "stack(2, 'name', n_name, 'region', cast(n_regionkey as string))"
        ).alias("attr", "val"),
    )


def q63b_inline_udtf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """inline(array<struct>) UDTF (GenericUDTFInline,
    FunctionRegistry.java:449): expand an array of structs into rows."""
    r = t(spark, sf_dir, "region")
    return r.select(
        "r_regionkey",
        F.inline(
            F.array(
                F.struct(F.lit("orig").alias("kind"), F.col("r_name").alias("val")),
                F.struct(F.lit("lower").alias("kind"), F.lower("r_name").alias("val")),
            )
        ),
    )


def q64_json_tuple(spark: SparkSession, sf_dir: str) -> DataFrame:
    """json_tuple UDTF (GenericUDTFJSONTuple) over events.props."""
    e = t(spark, sf_dir, "events").filter(F.col("event_id") <= 300)
    return e.select(
        "event_id", F.json_tuple(F.col("props"), "k").alias("k_str")
    ).select("event_id", F.col("k_str").cast("int").alias("k"))


def q65_xpath(spark: SparkSession, sf_dir: str) -> DataFrame:
    """xpath family (FunctionRegistry.java:298-306) over synthesized XML.
    DuckDB has no XPath, but the XML is synthesized from nation's own
    columns, so the analytic oracle is just those columns — any
    extraction defect breaks the hash (upgraded from rows-only, round 5);
    pytest additionally pins exact values."""
    n = t(spark, sf_dir, "nation")
    xml = F.concat(
        F.lit("<nation><name>"),
        F.col("n_name"),
        F.lit("</name><rk>"),
        F.col("n_regionkey").cast("string"),
        F.lit("</rk></nation>"),
    )
    return n.select(
        "n_nationkey",
        F.xpath_string(xml, F.lit("nation/name")).alias("xp_name"),
        F.xpath_int(xml, F.lit("nation/rk")).alias("xp_rk"),
    )


def q66_field_elt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """field()/elt() compat shims (GenericUDFField.java, UDFElt.java) —
    implemented as codegen-friendly CASE chains in functions/compat.py."""
    o = t(spark, sf_dir, "orders").filter(F.col("o_orderkey") <= 500)
    return o.select(
        "o_orderkey",
        field(F.col("o_orderstatus"), "O", "F", "P").alias("status_idx"),
        elt(
            field(F.col("o_orderstatus"), "O", "F", "P"),
            "open",
            "finished",
            "partial",
        ).alias("status_name"),
    )


def q67_sentences_tokenize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """sentences()-style tokenization (GenericUDFSentences.java) expressed
    with regex split + filter, staying in codegen."""
    d = t(spark, sf_dir, "documents").filter(F.col("doc_id") <= 100)
    toks = F.filter(F.split(F.lower(F.col("text")), r"[^a-z0-9]+"), lambda w: w != "")
    return d.select(
        "doc_id",
        F.size(toks).alias("n_tokens"),
        F.size(F.array_distinct(toks)).alias("n_unique"),
    )


def q69_python_udf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UDF registration surface (GenericUDF.java:66 → spark.udf.register).
    Row-at-a-time Python — deliberately the slow path, kept off large
    inputs; the oracle proves semantic equivalence."""
    spark.udf.register("title_reverse", lambda s: s[::-1].upper() if s is not None else None)
    t(spark, sf_dir, "nation").createOrReplaceTempView("fn_nation")
    return spark.sql(
        "SELECT n_nationkey, title_reverse(n_name) AS rev_up FROM fn_nation"
    )


def q70_pandas_udaf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UDAF surface (GenericUDAFEvaluator.java:67-85 iterate/merge/terminate
    → vectorized pandas_udf GROUPED_AGG): geometric mean of quantity."""

    @pandas_udf("double")
    def geo_mean(v: pd.Series) -> float:
        import numpy as np

        return float(np.exp(np.log(v[v > 0]).mean()))

    li = t(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .agg(F.round(geo_mean(F.col("l_quantity")), 6).alias("geo_qty"))
        .orderBy("l_returnflag")
    )


def q141_python_udtf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Python UDTF surface (GenericUDTF.process/forward → Spark 4's
    @udtf): expand each region name into (token, token_len) rows through
    a registered table function used in SQL."""
    from pyspark.sql.functions import udtf

    @udtf(returnType="token: string, token_len: int")
    class SplitWords:
        def eval(self, text: str):
            for w in (text or "").lower().split(" "):
                if w:
                    yield w, len(w)

    spark.udtf.register("split_words", SplitWords)
    t(spark, sf_dir, "region").createOrReplaceTempView("fn_region")
    return spark.sql(
        """
        SELECT r.r_regionkey, s.token, s.token_len
        FROM fn_region r, LATERAL split_words(r.r_name) s
        ORDER BY r.r_regionkey, s.token
        """
    )


def q106_string_extra_oracle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """find_in_set / space / chr / bin (FunctionRegistry string batch) —
    the remaining oracle-expressible string functions."""
    n = t(spark, sf_dir, "nation")
    return n.select(
        "n_nationkey",
        F.find_in_set(
            F.col("n_name"), F.lit("NATION_1,NATION_3,NATION_5")
        ).alias("set_pos"),
        F.concat(
            F.lit("["), F.expr("space(n_regionkey + 1)"), F.lit("]")
        ).alias("spaced"),
        F.expr("chr(n_nationkey + 65)").alias("letter"),
        F.bin(F.col("n_nationkey")).alias("binary_str"),
    )


def q166_string_fn_pack2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """translate / locate / printf / unhex round-trip / current_user —
    the last oracle-expressible FunctionRegistry stragglers
    (GenericUDFTranslate, GenericUDFLocate, GenericUDFPrintf,
    UDFUnhex, GenericUDFCurrentUser).  current_user differs per engine,
    so the checked contract is non-emptiness."""
    n = t(spark, sf_dir, "nation")
    return n.select(
        "n_nationkey",
        F.translate(F.col("n_name"), "AN", "xy").alias("translated"),
        F.locate("ION", F.col("n_name")).alias("ion_pos"),
        F.format_string("%s#%03d", F.col("n_name"), F.col("n_nationkey")).alias(
            "printed"
        ),
        F.decode(F.unhex(F.hex(F.col("n_name"))), "UTF-8").alias("hex_roundtrip"),
        (F.length(F.expr("current_user()")) > 0).alias("has_user"),
    )


def q107_string_extra_pinned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """substring_index / initcap / format_number / conv — oracle-checked
    via DuckDB list/format equivalents (round 4; previously rows-only).
    soundex has no DuckDB equivalent and stays pinned in
    tests/test_functions.py."""
    n = t(spark, sf_dir, "nation")
    return n.select(
        "n_nationkey",
        F.substring_index(F.col("n_name"), "A", 2).alias("upto_2nd_a"),
        F.initcap(F.lower(F.col("n_name"))).alias("title"),
        F.format_number(F.col("n_regionkey") * 1234.5678, 2).alias("fmt"),
        F.conv(F.col("n_nationkey").cast("string"), 10, 16).alias("hex_via_conv"),
    )


def q108_date_extra(spark: SparkSession, sf_dir: str) -> DataFrame:
    """from_unixtime round trip + next_day — oracle-checked (round 4;
    next_day maps to an isodow offset in DuckDB).  months_between (the
    Oracle 31-day convention, shared by Hive and Spark but not DuckDB)
    stays pinned in tests/test_functions.py."""
    o = t(spark, sf_dir, "orders").filter(F.col("o_orderkey") <= 200)
    epoch = F.unix_timestamp(F.col("o_orderdate"))
    return o.select(
        "o_orderkey",
        F.from_unixtime(epoch, "yyyy-MM-dd HH:mm:ss").alias("from_epoch"),
        F.date_format(F.next_day(F.col("o_orderdate"), "Mon"), "yyyy-MM-dd").alias(
            "next_monday"
        ),
    )


def q212_reflect_udf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """reflect / java_method (FunctionRegistry.java:409-411,
    GenericUDFReflect, exercised by clientpositive/udf_reflect.q):
    static-method JVM reflection over row values — Spark's
    CallMethodViaReflection is the same static form Hive ships, running
    JVM-side (no Python bridge).  The oracle recomputes each call with
    DuckDB-native equivalents (hex/bin/mod/max)."""
    o = t(spark, sf_dir, "orders").filter(F.col("o_orderkey") <= 200)
    return o.selectExpr(
        "o_orderkey AS k",
        "reflect('java.lang.Integer', 'toHexString', CAST(o_orderkey AS INT)) AS hex_k",
        "java_method('java.lang.Long', 'toBinaryString', o_orderkey) AS bin_k",
        "reflect('java.lang.Math', 'floorMod', CAST(o_orderkey AS INT), 7) AS mod7",
        "java_method('java.lang.Math', 'max', CAST(o_orderkey AS INT), 100) AS max100",
    ).orderBy("k")


def q227_collection_index_by_column(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array subscripts and map keys taken from COLUMNS, not constants
    (clientpositive/array_map_access_nonconstant.q; GenericUDFIndex with
    a non-constant key child).  element_at is Spark's 1-based access —
    the same arity Hive's [] operator compiles to; all JVM-side codegen,
    no shuffle (a pure per-row projection at any scale)."""
    t(spark, sf_dir, "orders").createOrReplaceTempView("ci_orders")
    return spark.sql(
        """
        SELECT o_orderkey,
               element_at(array('first', 'second', 'third'),
                          CAST(o_orderkey % 3 AS INT) + 1) AS arr_val,
               element_at(map('1', 'one', '2', 'two', '3', 'three'),
                          CAST(o_orderkey % 3 + 1 AS STRING)) AS map_val
        FROM ci_orders WHERE o_orderkey <= 200
        """
    )


def q242_allcolref_in_udf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All-column references inside UDF arguments (allcolref_in_udf.q,
    HIVE-4181: ``concat(*)``, ``array(*)``, qualified ``concat(a.*)`` and
    UDTF ``explode(*)`` — TOK_ALLCOLREF/TOK_FUNCTIONSTAR expansion in
    SemanticAnalyzer).  Spark's analyzer performs the identical star
    expansion in function arguments; this certifies the whole family
    through the SQL entry, with the oracle spelling every column out
    explicitly."""
    from apache_hive_2_1_1_src_spark.session import HiveEngine

    eng = HiveEngine(spark, sf_dir)
    t(spark, sf_dir, "nation").select(
        "n_nationkey", "n_name", "n_regionkey"
    ).createOrReplaceTempView("acr_nation")
    t(spark, sf_dir, "region").select(
        "r_regionkey", "r_name"
    ).createOrReplaceTempView("acr_region")
    return eng.sql(
        """
        SELECT a.n_nationkey AS k,
               concat(a.*) AS cat_a,
               concat(a.*, b.r_name) AS cat_ab,
               array(a.*) AS arr_a
        FROM acr_nation a JOIN acr_region b ON a.n_regionkey = b.r_regionkey
        ORDER BY k
        """
    )


QUERIES = {
    "q242_allcolref_in_udf": q242_allcolref_in_udf,
    "q227_collection_index_by_column": q227_collection_index_by_column,
    "q212_reflect_udf": q212_reflect_udf,
    "q141_python_udtf": q141_python_udtf,
    "q50_string_funcs": q50_string_funcs,
    "q106_string_extra_oracle": q106_string_extra_oracle,
    "q166_string_fn_pack2": q166_string_fn_pack2,
    "q107_string_extra_pinned": q107_string_extra_pinned,
    "q108_date_extra": q108_date_extra,
    "q51_math_funcs": q51_math_funcs,
    "q52_date_funcs": q52_date_funcs,
    "q53_conditional": q53_conditional,
    "q54_bitwise": q54_bitwise,
    "q55_cast_permissive": q55_cast_permissive,
    "q56_json": q56_json,
    "q57_parse_url": q57_parse_url,
    "q58_hash_crypto": q58_hash_crypto,
    "q59_str_to_map": q59_str_to_map,
    "q60_array_funcs": q60_array_funcs,
    "q61_explode_lateral": q61_explode_lateral,
    "q62_posexplode": q62_posexplode,
    "q63_stack": q63_stack,
    "q153_explode_map": q153_explode_map,
    "q154_null_semantics": q154_null_semantics,
    "q63b_inline_udtf": q63b_inline_udtf,
    "q64_json_tuple": q64_json_tuple,
    "q65_xpath": q65_xpath,
    "q66_field_elt": q66_field_elt,
    "q67_sentences_tokenize": q67_sentences_tokenize,
    "q68_hash_extra": q68_hash_extra,
    "q69_python_udf": q69_python_udf,
    "q70_pandas_udaf": q70_pandas_udaf,
}

ORACLES = {
    "q242_allcolref_in_udf": """
        SELECT n.n_nationkey AS k,
               CAST(n.n_nationkey AS VARCHAR) || n.n_name
                 || CAST(n.n_regionkey AS VARCHAR) AS cat_a,
               CAST(n.n_nationkey AS VARCHAR) || n.n_name
                 || CAST(n.n_regionkey AS VARCHAR) || r.r_name AS cat_ab,
               [CAST(n.n_nationkey AS VARCHAR), n.n_name,
                CAST(n.n_regionkey AS VARCHAR)] AS arr_a
        FROM nation n JOIN region r ON n.n_regionkey = r.r_regionkey
        ORDER BY k
    """,
    "q227_collection_index_by_column": """
        SELECT o_orderkey,
               (['first', 'second', 'third'])[CAST(o_orderkey % 3 AS INT) + 1] AS arr_val,
               (MAP(['1', '2', '3'], ['one', 'two', 'three'])
                  [CAST(o_orderkey % 3 + 1 AS VARCHAR)])[1] AS map_val
        FROM orders WHERE o_orderkey <= 200
    """,
    "q212_reflect_udf": """
        SELECT o_orderkey AS k,
               printf('%x', o_orderkey) AS hex_k,
               bin(o_orderkey) AS bin_k,
               CAST(o_orderkey % 7 AS VARCHAR) AS mod7,
               CAST(GREATEST(o_orderkey, 100) AS VARCHAR) AS max100
        FROM orders WHERE o_orderkey <= 200 ORDER BY k
    """,
    "q65_xpath": """
        SELECT n_nationkey, n_name AS xp_name,
               CAST(n_regionkey AS INT) AS xp_rk
        FROM nation
    """,
    "q68_hash_extra": """
        SELECT doc_id, md5(text) AS md5_hex,
               TRUE AS sha1_ok, TRUE AS crc32_ok
        FROM documents WHERE doc_id <= 50
    """,
    "q141_python_udtf": """
        SELECT r_regionkey, u AS token, CAST(length(u) AS INT) AS token_len
        FROM (SELECT r_regionkey,
                     list_filter(string_split(lower(r_name), ' '),
                                 x -> x != '') AS w
              FROM region), LATERAL UNNEST(w) AS s(u)
        ORDER BY r_regionkey, token
    """,
    "q166_string_fn_pack2": """
        SELECT n_nationkey,
               translate(n_name, 'AN', 'xy') AS translated,
               CAST(strpos(n_name, 'ION') AS INT) AS ion_pos,
               printf('%s#%03d', n_name, n_nationkey) AS printed,
               decode(unhex(hex(n_name))) AS hex_roundtrip,
               length(current_user) > 0 AS has_user
        FROM nation ORDER BY n_nationkey
    """,
    "q107_string_extra_pinned": """
        SELECT n_nationkey,
               array_to_string((string_split(n_name, 'A'))[1:2], 'A')
                 AS upto_2nd_a,
               array_to_string(list_transform(
                   string_split(lower(n_name), ' '),
                   w -> upper(w[1:1]) || w[2:]), ' ') AS title,
               format('{:,}', CAST(floor(round(n_regionkey * 1234.5678, 2))
                                   AS BIGINT))
                 || '.'
                 || lpad(CAST(CAST(round((round(n_regionkey * 1234.5678, 2)
                          - floor(round(n_regionkey * 1234.5678, 2))) * 100)
                          AS BIGINT) AS VARCHAR), 2, '0') AS fmt,
               upper(to_hex(n_nationkey)) AS hex_via_conv
        FROM nation ORDER BY n_nationkey
    """,
    "q108_date_extra": """
        SELECT o_orderkey,
               strftime(CAST(o_orderdate AS TIMESTAMP), '%Y-%m-%d %H:%M:%S')
                 AS from_epoch,
               strftime(o_orderdate + CAST(
                   CASE WHEN (8 - isodow(o_orderdate)) % 7 = 0 THEN 7
                        ELSE (8 - isodow(o_orderdate)) % 7 END
                   || ' days' AS INTERVAL), '%Y-%m-%d') AS next_monday
        FROM orders WHERE o_orderkey <= 200 ORDER BY o_orderkey
    """,
    "q106_string_extra_oracle": """
        SELECT n_nationkey,
               CAST(COALESCE(list_position(
                 string_split('NATION_1,NATION_3,NATION_5', ','),
                 n_name), 0) AS INT) AS set_pos,
               '[' || repeat(' ', n_regionkey + 1) || ']' AS spaced,
               chr(n_nationkey + 65) AS letter,
               CASE WHEN n_nationkey = 0 THEN '0'
                    ELSE ltrim(bin(CAST(n_nationkey AS BIGINT)), '0') END AS binary_str
        FROM nation
    """,
    "q50_string_funcs": """
        SELECT c_custkey,
               concat_ws('/', c_name, c_mktsegment) AS joined,
               upper(c_name) AS up, lower(c_name) AS lo,
               substr(c_name, 1, 8) AS sub8,
               CAST(length(c_name) AS INT) AS len,
               trim(lpad(c_name, 12, ' ')) AS trimmed,
               rpad(c_name, 14, '.') AS padded,
               reverse(c_name) AS rev,
               repeat(substr(c_name, 1, 2), 3) AS rep,
               CAST(ascii(c_name) AS INT) AS first_ascii,
               regexp_replace(c_name, '[0-9]+', '#', 'g') AS no_digits,
               regexp_extract(c_name, '([0-9]+)', 1) AS digits,
               string_split(c_name, '#')[1] AS before_hash,
               CAST(instr(c_name, '1') AS INT) AS pos_one,
               CAST(levenshtein(c_name, 'Customer#1') AS INT) AS lev
        FROM customer WHERE c_custkey <= 50
    """,
    "q51_math_funcs": """
        SELECT p_partkey,
               ROUND(p_retailprice, 1) AS rnd1,
               CAST(FLOOR(p_retailprice) AS BIGINT) AS flr,
               CAST(CEIL(p_retailprice) AS BIGINT) AS cl,
               ABS(p_retailprice - 1000.0) AS ab,
               CAST(((p_size % 7) + 7) % 7 AS INT) AS pm,
               ROUND(SQRT(p_retailprice), 6) AS sq,
               ROUND(CBRT(p_retailprice), 6) AS cb,
               ROUND(EXP(p_size / 25.0), 6) AS ex,
               ROUND(LN(p_retailprice), 6) AS ln_,
               ROUND(LOG10(p_retailprice), 6) AS l10,
               ROUND(LOG2(p_retailprice), 6) AS l2,
               ROUND(POW(p_retailprice, 0.5), 6) AS pw,
               CAST(SIGN(p_retailprice - 1000.0) AS DOUBLE) AS sgn,
               ROUND(DEGREES(p_size / 10.0), 6) AS deg,
               ROUND(RADIANS(CAST(p_size AS DOUBLE)), 6) AS rad,
               CAST(factorial(((p_size % 10) + 10) % 10) AS BIGINT) AS fact,
               hex(p_partkey) AS hx,
               ROUND(SIN(p_retailprice / 100.0) + COS(p_retailprice / 100.0)
                     + ATAN(p_retailprice / 100.0), 6) AS trig
        FROM part WHERE p_partkey <= 100
    """,
    "q52_date_funcs": """
        SELECT o_orderkey,
               CAST(year(o_orderdate) AS INT) AS yr,
               CAST(quarter(o_orderdate) AS INT) AS qtr,
               CAST(month(o_orderdate) AS INT) AS mo,
               CAST(day(o_orderdate) AS INT) AS dom,
               CAST(weekofyear(o_orderdate) AS INT) AS woy,
               strftime(o_orderdate, '%Y-%m') AS ym,
               CAST(last_day(o_orderdate) AS DATE) AS month_end,
               CAST(o_orderdate AS DATE) + 30 AS plus30,
               CAST(o_orderdate AS DATE) - 7 AS minus7,
               CAST(CAST(o_orderdate AS DATE) + INTERVAL 2 MONTH AS DATE) AS plus2mo,
               CAST(datediff('day', CAST(o_orderdate AS DATE), DATE '2000-01-01') AS INT)
                 AS days_to_y2k,
               CAST(date_trunc('month', o_orderdate) AS DATE) AS month_start,
               CAST(epoch(o_orderdate) AS BIGINT) AS epoch_s,
               CAST(o_orderdate AS DATE) AS as_date
        FROM orders WHERE o_orderkey <= 500
    """,
    "q53_conditional": """
        SELECT c_custkey,
               CASE WHEN c_acctbal > 5000 THEN 'high'
                    WHEN c_acctbal > 0 THEN 'mid' ELSE 'low' END AS tier,
               COALESCE(CASE WHEN c_acctbal >= 0 THEN c_acctbal END, -1.0) AS bal_or_neg1,
               NULLIF(c_mktsegment, 'BUILDING') AS seg_nb,
               COALESCE(NULLIF(c_mktsegment, 'BUILDING'), 'DEFAULT') AS seg_dflt,
               LEAST(c_acctbal, 1000.0) AS capped,
               GREATEST(c_acctbal, 0.0) AS floored,
               (c_acctbal IS NULL) AS is_null_bal,
               (c_nationkey BETWEEN 5 AND 10) AS nk_in_range
        FROM customer
    """,
    "q54_bitwise": """
        SELECT n_nationkey,
               CAST(n_nationkey & 5 AS INT) AS band,
               CAST(n_nationkey | 8 AS INT) AS bor,
               CAST(xor(n_nationkey, 3) AS INT) AS bxor,
               CAST(n_nationkey << 2 AS INT) AS shl,
               CAST(n_nationkey >> 1 AS INT) AS shr,
               CAST(~n_nationkey AS INT) AS bnot,
               CAST(n_nationkey % 4 AS INT) AS mod4,
               CAST(FLOOR(n_nationkey / 3.0) AS BIGINT) AS intdiv3
        FROM nation
    """,
    "q55_cast_permissive": """
        SELECT c_custkey,
               TRY_CAST(CAST(c_custkey AS VARCHAR) AS INT) AS roundtrip_int,
               TRY_CAST(CAST(c_custkey AS VARCHAR) || 'x' AS INT) AS junk_int_null,
               CAST(TRUNC(c_acctbal) AS INT) AS bal_trunc,
               CAST(c_acctbal AS VARCHAR) AS bal_str,
               CAST('3.75' AS DOUBLE) AS str_dbl,
               CAST('true' AS BOOLEAN) AS str_bool,
               CAST(c_nationkey AS TINYINT) AS nk_tiny,
               CAST(CAST(c_custkey AS DECIMAL(18,2)) AS DOUBLE) AS via_decimal
        FROM customer WHERE c_custkey <= 100
    """,
    "q56_json": """
        SELECT event_type,
               COUNT(k) AS n_k, CAST(SUM(k) AS BIGINT) AS sum_k,
               CAST(MIN(k) AS INT) AS min_k, CAST(MAX(k) AS INT) AS max_k
        FROM (SELECT event_type,
                     TRY_CAST(json_extract_string(props, '$.k') AS INT) AS k
              FROM events)
        GROUP BY event_type ORDER BY event_type
    """,
    "q57_parse_url": """
        SELECT event_id,
               'example.com' AS host,
               '/' || event_type || '/page' AS path,
               'uid=' || CAST(user_id AS VARCHAR) || '&v=2' AS query,
               CAST(user_id AS VARCHAR) AS query_uid,
               'frag' AS ref,
               'https' AS protocol
        FROM events WHERE event_id <= 200
    """,
    "q58_hash_crypto": """
        SELECT doc_id,
               md5(text) AS md5_hex,
               sha256(text) AS sha256_hex,
               to_base64(CAST(substr(text, 1, 12) AS BLOB)) AS b64,
               substr(text, 1, 12) AS b64_roundtrip
        FROM documents WHERE doc_id <= 100
    """,
    "q59_str_to_map": """
        SELECT c_custkey,
               c_mktsegment AS seg_val,
               c_nationkey AS nk_val,
               2 AS n_entries,
               'nk,seg' AS keys_sorted
        FROM customer WHERE c_custkey <= 100
    """,
    "q60_array_funcs": """
        SELECT doc_id,
               CAST(len(w) AS INT) AS n_words,
               list_contains(w, 'data') AS has_data,
               w[1] AS first_word,
               w[-1] AS last_word,
               array_to_string(list_sort(w)[1:3], ',') AS top3_sorted,
               lang AS lang_via_struct
        FROM (SELECT doc_id, lang, string_split(text, ' ') AS w FROM documents)
        WHERE doc_id <= 200
    """,
    "q154_null_semantics": """
        SELECT o_orderkey,
               ROUND(o_totalprice / NULLIF(o_orderkey % 3, 0), 4) AS div_or_null,
               o_custkey % NULLIF(o_orderkey % 2, 0) AS mod_or_null,
               CASE WHEN o_orderkey % 5 = 0 THEN NULL ELSE o_custkey END AS nullable_key,
               (CASE WHEN o_orderkey % 5 = 0 THEN NULL ELSE o_custkey END
                IS NOT DISTINCT FROM o_custkey) AS ns_eq_self,
               (CASE WHEN o_orderkey % 5 = 0 THEN NULL ELSE o_custkey END
                IS NOT DISTINCT FROM NULL) AS ns_eq_null,
               CASE WHEN o_orderkey % 5 = 0 THEN NULL ELSE o_custkey END + 1 AS null_plus,
               'k=' || CAST(CASE WHEN o_orderkey % 5 = 0 THEN NULL
                            ELSE o_custkey END AS VARCHAR) AS null_concat
        FROM orders WHERE o_orderkey <= 3000 ORDER BY o_orderkey
    """,
    "q153_explode_map": """
        SELECT event_id, k, v FROM (
          SELECT event_id, 'type' AS k, event_type AS v
          FROM events WHERE event_id <= 2000
          UNION ALL
          SELECT event_id, 'uid', CAST(user_id AS VARCHAR)
          FROM events WHERE event_id <= 2000
        ) ORDER BY event_id, k
    """,
    "q61_explode_lateral": """
        SELECT lang, word, COUNT(*) AS freq FROM (
          SELECT lang, UNNEST(string_split(text, ' ')) AS word FROM documents
        ) GROUP BY lang, word HAVING COUNT(*) >= 5
    """,
    "q62_posexplode": """
        SELECT doc_id, CAST(pos AS INT) AS pos, tok FROM (
          SELECT doc_id,
                 UNNEST(range(0, len(w))) AS pos,
                 UNNEST(w) AS tok
          FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents
                WHERE doc_id <= 50)
        ) WHERE pos < 5
    """,
    "q63_stack": """
        SELECT n_nationkey, 'name' AS attr, n_name AS val FROM nation WHERE n_nationkey < 5
        UNION ALL
        SELECT n_nationkey, 'region' AS attr, CAST(n_regionkey AS VARCHAR) AS val
        FROM nation WHERE n_nationkey < 5
    """,
    "q63b_inline_udtf": """
        SELECT r_regionkey, 'orig' AS kind, r_name AS val FROM region
        UNION ALL
        SELECT r_regionkey, 'lower' AS kind, lower(r_name) AS val FROM region
    """,
    "q64_json_tuple": """
        SELECT event_id, TRY_CAST(json_extract_string(props, '$.k') AS INT) AS k
        FROM events WHERE event_id <= 300
    """,
    "q66_field_elt": """
        SELECT o_orderkey,
               CASE o_orderstatus WHEN 'O' THEN 1 WHEN 'F' THEN 2 WHEN 'P' THEN 3
                    ELSE 0 END AS status_idx,
               CASE o_orderstatus WHEN 'O' THEN 'open' WHEN 'F' THEN 'finished'
                    WHEN 'P' THEN 'partial' END AS status_name
        FROM orders WHERE o_orderkey <= 500
    """,
    "q67_sentences_tokenize": """
        SELECT doc_id,
               CAST(len(toks) AS INT) AS n_tokens,
               CAST(len(list_distinct(toks)) AS INT) AS n_unique
        FROM (SELECT doc_id,
                     list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                                 w -> w != '') AS toks
              FROM documents WHERE doc_id <= 100)
    """,
    "q69_python_udf": """
        SELECT n_nationkey, upper(reverse(n_name)) AS rev_up FROM nation
    """,
    "q70_pandas_udaf": """
        SELECT l_returnflag,
               ROUND(EXP(AVG(LN(l_quantity))), 6) AS geo_qty
        FROM lineitem WHERE l_quantity > 0
        GROUP BY l_returnflag ORDER BY l_returnflag
    """,
}
