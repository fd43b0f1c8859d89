"""Run the reference's OWN clientpositive ``.q`` files verbatim and
compare against the reference's OWN ``.q.out`` golden outputs — the
QTestUtil protocol (itests/util/.../QTestUtil.java) re-expressed.

This is the SQL twin of the HPL/SQL reference-corpus runner: inputs
(ql/src/test/queries/clientpositive/*.q), fixture data
(data/files/kv1.txt, kv3.txt) and expectations
(ql/src/test/results/clientpositive/*.q.out) all come from the
reference checkout unmodified.  The harness:

* builds the classic fixture tables exactly as data/scripts/
  q_test_init.sql does — ``src`` (kv1.txt), ``src1`` (kv3.txt),
  ``srcpart`` (kv1.txt x 4 partitions) — through the engine's own
  CREATE TABLE + LOAD DATA statement surface;
* splits the .q into statements (CliDriver semantics), drops the
  non-hooked ones (set/reset/dfs/add/delete — QTestUtil does not emit
  PREHOOK blocks for them), and aligns the rest 1:1 with the .q.out's
  ``PREHOOK: query:`` blocks;
* executes every aligned statement through HiveEngine.sql, EXCEPT
  EXPLAIN statements (executed plans are MR-specific in the goldens;
  plan parity is covered by the engine's own EXPLAIN surface);
* compares result rows where the golden block has any, after QTestUtil
  normalization: Hive CLI framing (tab-separated cells, NULL for null,
  Java Double.toString for doubles) and sorted order — only .q files
  carrying the ``SORT_QUERY_RESULTS`` directive are eligible, the same
  rule QTestUtil applies.

Scale note: this module is a CERTIFICATION harness over tiny fixture
tables (500 rows); nothing here is a data path.
"""

from __future__ import annotations

import datetime
import decimal
import math
import os
import re
from dataclasses import dataclass, field

from apache_hive_2_1_1_src_spark.sqltext import split_top_level
from apache_hive_2_1_1_src_spark.table_desc import catalog_entry

REF = "/root/reference"
DATA_DIR = f"{REF}/data/files"
Q_DIR = f"{REF}/ql/src/test/queries/clientpositive"
OUT_DIR = f"{REF}/ql/src/test/results/clientpositive"

#: statements QTestUtil executes without emitting PREHOOK blocks.
#: `set role` IS hooked (a real SQL statement, unlike conf sets), and
#: bare add/delete only cover the jar/file resource commands — SQL-text
#: DELETE FROM is a query
_UNHOOKED = re.compile(
    r"^\s*(set\s+(?!\s*role\b)|reset\b|dfs\b|add\s+(jar|file)\b|"
    r"delete\s+(jar|file)\b)",
    re.IGNORECASE,
)


def reference_available() -> bool:
    return os.path.isdir(Q_DIR) and os.path.isdir(DATA_DIR)


# ------------------------------------------------------------- fixtures
def init_classic_tables(eng) -> None:
    """q_test_init.sql's src / src1 / srcpart, through the engine's own
    statement surface (CREATE TABLE ... STORED AS TEXTFILE + LOAD DATA)."""
    from apache_hive_2_1_1_src_spark.queries.storage import drop_table

    # ${system:hive.root} = the Hive checkout root (QTestUtil sets the
    # hive.root system property; compustat_avro.q dfs-copies a schema
    # file relative to it)
    eng._vars.setdefault("system:hive.root", REF + "/")
    # QTestUtil system properties the dfs lines interpolate (repair.q)
    _wh = re.sub(
        r"^file:/*", "/",
        eng.spark.conf.get("spark.sql.warehouse.dir", ""),
    )
    eng._vars.setdefault("system:test.warehouse.dir", _wh)
    eng._vars.setdefault("system:test.dfs.mkdir", "-mkdir -p")
    import tempfile as _tf

    eng._vars.setdefault("system:test.tmp.dir", _tf.gettempdir())
    # the reference test JVM runs with TZ=US/Pacific (pom.xml:998) —
    # timezone-sensitive goldens (timestamp_udf.q, decimal_1.q,
    # constprog_type.q) assume it.  Session-scoped: only the qtest
    # harness flips the zone; the engine default stays UTC.
    os.environ.setdefault("HIVE_TEST_TZ", "US/Pacific")
    eng.spark.conf.set("spark.sql.session.timeZone", "US/Pacific")
    # hive.groupby.orderby.position.alias defaults FALSE in Hive 2.1
    # (HiveConf.java:1066): ``GROUP BY 3`` groups on the CONSTANT 3, not
    # select-list position 3 (bucket_groupby.q) — Spark's ordinal
    # resolution must be off for both clauses in qtest sessions
    eng.spark.conf.set("spark.sql.groupByOrdinal", "false")
    eng.spark.conf.set("spark.sql.orderByOrdinal", "false")
    eng._ordinal_default = "false"  # what RESET restores in qtest runs
    # MR row-choice compat: LIMIT after GROUP BY keeps the smallest keys
    eng._mr_limit_key_order = True
    # QTestUtil authenticates as hive_test_user (udf_current_user.q,
    # the authorization owner goldens)
    eng._default_user = "hive_test_user"
    # PySpark's plain collect() renders timestamps in the PROCESS zone
    # (datetime.fromtimestamp), which must agree with the session zone
    # or every timestamp shifts by the offset between them
    import time as _time

    os.environ["TZ"] = "US/Pacific"
    _time.tzset()
    for tbl, fname in (("src", "kv1.txt"), ("src1", "kv3.txt")):
        drop_table(eng.spark, tbl)
        eng.sql(
            f"CREATE TABLE {tbl} (key STRING COMMENT 'default', "
            f"value STRING COMMENT 'default') STORED AS TEXTFILE"
        )
        eng.sql(f"LOAD DATA LOCAL INPATH '{DATA_DIR}/{fname}' INTO TABLE {tbl}")
    drop_table(eng.spark, "srcpart")
    eng.sql(
        "CREATE TABLE srcpart (key STRING COMMENT 'default', "
        "value STRING COMMENT 'default') "
        "PARTITIONED BY (ds STRING, hr STRING) STORED AS TEXTFILE"
    )
    for ds in ("2008-04-08", "2008-04-09"):
        for hr in ("11", "12"):
            eng.sql(
                f"LOAD DATA LOCAL INPATH '{DATA_DIR}/kv1.txt' OVERWRITE "
                f"INTO TABLE srcpart PARTITION (ds='{ds}', hr='{hr}')"
            )
    # the CBO fixture block of q_test_init.sql: cbo_t1-3 (comma-delimited,
    # partitioned), TPC-H part/lineitem minis, src_cbo
    for tbl in ("cbo_t1", "cbo_t2", "cbo_t3", "src_cbo", "part", "lineitem"):
        drop_table(eng.spark, tbl)
    for tbl, part in (("cbo_t1", True), ("cbo_t2", True), ("cbo_t3", False)):
        eng.sql(
            f"create table {tbl}(key string, value string, c_int int, "
            f"c_float float, c_boolean boolean) "
            + ("partitioned by (dt string) " if part else "")
            + "row format delimited fields terminated by ',' STORED AS TEXTFILE"
        )
        eng.sql(
            f"load data local inpath '{DATA_DIR}/{tbl}.txt' into table {tbl}"
            + (" partition (dt='2014')" if part else "")
        )
    eng.sql(
        "CREATE TABLE part(p_partkey INT, p_name STRING, p_mfgr STRING, "
        "p_brand STRING, p_type STRING, p_size INT, p_container STRING, "
        "p_retailprice DOUBLE, p_comment STRING)"
    )
    eng.sql(
        f"LOAD DATA LOCAL INPATH '{DATA_DIR}/part_tiny.txt' "
        f"overwrite into table part"
    )
    eng.sql(
        "CREATE TABLE lineitem (L_ORDERKEY INT, L_PARTKEY INT, L_SUPPKEY INT, "
        "L_LINENUMBER INT, L_QUANTITY DOUBLE, L_EXTENDEDPRICE DOUBLE, "
        "L_DISCOUNT DOUBLE, L_TAX DOUBLE, L_RETURNFLAG STRING, "
        "L_LINESTATUS STRING, l_shipdate STRING, L_COMMITDATE STRING, "
        "L_RECEIPTDATE STRING, L_SHIPINSTRUCT STRING, L_SHIPMODE STRING, "
        "L_COMMENT STRING) ROW FORMAT DELIMITED FIELDS TERMINATED BY '|'"
    )
    eng.sql(
        f"LOAD DATA LOCAL INPATH '{DATA_DIR}/lineitem.txt' "
        f"OVERWRITE INTO TABLE lineitem"
    )
    eng.sql("create table src_cbo as select * from src")
    for stmt in (
        "analyze table cbo_t1 partition (dt) compute statistics",
        "analyze table cbo_t2 partition (dt) compute statistics",
        "analyze table cbo_t3 compute statistics",
        "analyze table src_cbo compute statistics",
        "analyze table part compute statistics",
        "analyze table lineitem compute statistics",
    ):
        try:
            eng.sql(stmt)
        except Exception:
            pass


# --------------------------------------------------------- .q.out parse
@dataclass
class QBlock:
    query: str
    results: list[str] = field(default_factory=list)


def parse_qout(path: str) -> list[QBlock]:
    """Split a .q.out into PREHOOK blocks: each carries the echoed query
    and the raw result lines that follow the hook metadata."""
    blocks: list[QBlock] = []
    cur: QBlock | None = None
    mode = ""  # "pre_q" | "post_q" | "meta" | "results"
    # split on \n ONLY — str.splitlines() also breaks on \x0b/\x0c/
    # \x1c/\x1d/\x1e, which appear as DATA inside escape1.q's goldens
    _txt = open(path, encoding="utf-8", errors="replace").read()
    if _txt.endswith("\n"):
        _txt = _txt[:-1]
    for line in _txt.split("\n"):
        line = line.rstrip("\r")
        if line.startswith("PREHOOK: query:"):
            cur = QBlock(query=line[len("PREHOOK: query:"):].strip())
            blocks.append(cur)
            mode = "pre_q"
            continue
        if cur is None or line.startswith(("Warning:", "WARNING:")):
            continue
        if line == (
            "unix_timestamp(void) is deprecated. "
            "Use current_timestamp instead."
        ):
            # console deprecation noise printed mid-job
            # (GenericUDFUnixTimeStamp) — framing, not data
            continue
        if "#### A masked pattern was here ####" in line:
            continue  # QTestUtil-masked path/timestamp noise
        if line.startswith("POSTHOOK: query:"):
            mode = "post_q"
            continue
        if line.startswith(("PREHOOK: ", "POSTHOOK: ")):
            mode = "meta"
            continue
        if mode == "pre_q":
            cur.query += "\n" + line
            continue
        if mode == "post_q":
            continue  # duplicate echo
        # metadata done → raw result line (may be empty inside EXPLAIN text)
        mode = "results"
        cur.results.append(line)
    for b in blocks:
        # trailing blank separators are framing, not data
        while b.results and b.results[-1] == "":
            b.results.pop()
    return blocks


# ------------------------------------------------------ Hive CLI framing
_JSTR_CACHE: dict[tuple[str, float], str] = {}


def _jvm_number_str(x: float, kind: str) -> str | None:
    """Exact Java {Float,Double}.toString via the live JVM (py4j),
    cached per distinct value — OpenJDK's FloatingDecimal digit
    generation is NOT shortest-round-trip (Float.toString(8999999488f)
    is '8.9999995E9', not '9.0E9'), and the goldens bake its exact
    output in (schema_evol_* float columns)."""
    key = (kind, x)
    hit = _JSTR_CACHE.get(key)
    if hit is not None:
        return hit
    try:
        from pyspark.sql import SparkSession

        spark = SparkSession.getActiveSession()
        jvm = spark.sparkContext._jvm  # type: ignore[union-attr]
        if kind == "float":
            # py4j narrows the python float to a Java float for the
            # toString(float) overload — lossless for values that came
            # FROM a float32 column
            s = jvm.java.lang.Float.toString(x)
        else:
            s = jvm.java.lang.Double.toString(x)
        if not isinstance(s, str):
            return None
    except Exception:
        return None
    _JSTR_CACHE[key] = s
    return s


def _java_double(x: float) -> str:
    """Java Double.toString's shape: decimal in [1e-3, 1e7), otherwise
    scientific with a one-digit-or-more mantissa and bare E exponent."""
    if x != x:
        return "NaN"
    if x == float("inf"):
        return "Infinity"
    if x == float("-inf"):
        return "-Infinity"
    if x == 0:
        return "0.0" if math.copysign(1.0, x) > 0 else "-0.0"
    js = _jvm_number_str(x, "double")
    if js is not None:
        return js
    ax = abs(x)
    if 1e-3 <= ax < 1e7:
        s = repr(x)
        if "e" in s or "E" in s:
            s = f"{x:f}".rstrip("0")
            if s.endswith("."):
                s += "0"
        if "." not in s:
            s += ".0"
        return s
    exp = math.floor(math.log10(ax))
    mant = x / (10.0 ** exp)
    ms = repr(mant)
    if "." not in ms:
        ms += ".0"
    return f"{ms}E{exp}"


def _float32_str(v: float) -> str:
    """Java Float.toString text for a float32 value arriving as a
    Python double (parquet_type_promotion.q's [2.3,3.0,5.5])."""
    if v != v:
        return "NaN"
    if v == float("inf"):
        return "Infinity"
    if v == float("-inf"):
        return "-Infinity"
    js = _jvm_number_str(v, "float")
    if js is not None:
        return js
    import numpy as np

    s = str(np.float32(v))
    if "e" not in s and "E" not in s and "." not in s:
        s += ".0"
    return s


def hive_cell(v, dt=None) -> str:
    from pyspark.sql import types as _T

    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, float):
        if isinstance(dt, _T.FloatType):
            return _float32_str(v)
        return _java_double(v)
    if isinstance(v, list):
        # Hive CLI prints complex types JSON-style, no spaces, strings quoted
        edt = dt.elementType if isinstance(dt, _T.ArrayType) else None
        return "[" + ",".join(_hive_nested(x, edt) for x in v) + "]"
    if isinstance(v, dict):
        kdt = dt.keyType if isinstance(dt, _T.MapType) else None
        vdt = dt.valueType if isinstance(dt, _T.MapType) else None
        return (
            "{"
            + ",".join(
                f"{_hive_nested(k, kdt)}:{_hive_nested(x, vdt)}"
                for k, x in v.items()
            )
            + "}"
        )
    if isinstance(v, datetime.timedelta):
        # HiveIntervalDayTime.toString: 'd hh:mm:ss.fffffffff' with a
        # NINE-digit fraction (interval_3.q '26 00:00:00.000000000');
        # Python timedeltas hold micros, so the last 3 digits are 0
        us = v.days * 86_400_000_000 + v.seconds * 1_000_000 + v.microseconds
        sign = "-" if us < 0 else ""
        us = abs(us)
        d, rem = divmod(us, 86_400_000_000)
        h, rem = divmod(rem, 3_600_000_000)
        mi, rem = divmod(rem, 60_000_000)
        s_, frac = divmod(rem, 1_000_000)
        return f"{sign}{d} {h:02d}:{mi:02d}:{s_:02d}.{frac:06d}000"
    if isinstance(v, decimal.Decimal):
        # HiveDecimal.toString renders plain positional notation at the
        # value's scale — Python's str(Decimal) leaks scientific form
        # ('0E-18' where Hive prints '0.000000000000000000';
        # decimal_1.q-4.q, decimal_precision.q)
        return format(v, "f")
    if isinstance(v, (bytes, bytearray)):
        # Hive CLI prints BINARY as its raw bytes (LazyBinary → Text),
        # not a Python repr (ba_table1.q)
        return bytes(v).decode("utf-8", "replace")
    if isinstance(v, datetime.datetime):
        # TimestampWritable.toString: fraction trimmed of trailing
        # zeros, omitted entirely when zero (timestamp.q golden)
        # %Y does not zero-pad years < 1000 on glibc — Hive prints
        # '0004-09-22' (Timestamp.toString; schema_evol all_primitive)
        s = (
            f"{v.year:04d}-{v.month:02d}-{v.day:02d} "
            f"{v.hour:02d}:{v.minute:02d}:{v.second:02d}"
        )
        if v.microsecond:
            s += f".{v.microsecond:06d}".rstrip("0")
        return s
    if hasattr(v, "asDict"):
        from pyspark.sql import types as _T

        d_ = v.asDict()
        ks_ = list(d_.keys())
        fdts = (
            {f.name: f.dataType for f in dt.fields}
            if isinstance(dt, _T.StructType)
            else {}
        )
        if ks_ and ks_[0] == "tag" and all(
            k == f"field{i}" for i, k in enumerate(ks_[1:])
        ):
            # UNION struct encoding → Hive's {tag:value} rendering
            # (LazyUnion.toString; create_union_table.q golden)
            tg = d_["tag"]
            if tg is None:
                return "null"
            return (
                f"{{{tg}:"
                f"{_hive_nested(d_.get(f'field{tg}'), fdts.get(f'field{tg}'))}"
                "}"
            )
        # Row → Hive struct framing {"field":value}: the display OI's
        # field case comes through the read schema unchanged
        # (orc_create.q pins {"A":"one"}; avro schemas already arrive
        # lowercased, keeping avro_nullable_fields.q's "sint")
        return (
            "{"
            + ",".join(
                f'"{k}":{_hive_nested(x, fdts.get(k))}'
                for k, x in v.asDict().items()
            )
            + "}"
        )
    return str(v)


def _json_escape(s: str) -> str:
    """SerDeUtils.escapeString (SerDeUtils.java:81-130): JSON-style
    escaping of nested string values in complex display —
    orc_int_type_promotion.q pins {"c2":" \\"bar\\"}"}."""
    out = []
    for c in s:
        if c in ('"', "\\"):
            out.append("\\" + c)
        elif c == "\b":
            out.append("\\b")
        elif c == "\f":
            out.append("\\f")
        elif c == "\n":
            out.append("\\n")
        elif c == "\r":
            out.append("\\r")
        elif c == "\t":
            out.append("\\t")
        elif c < " ":
            out.append("\\u%04x" % ord(c))
        else:
            out.append(c)
    return "".join(out)


def _hive_nested(v, dt=None) -> str:
    if isinstance(v, str):
        return f'"{_json_escape(v)}"'
    if v is None:
        return "null"
    if isinstance(v, decimal.Decimal):
        # nested decimals render HiveDecimal.toString MINIMAL text
        # (SerDeUtils.buildJSONString → toString, no enforced scale:
        # schema_evol all_complex pins {"c8":470614135}); top-level
        # cells keep the column scale (decimal_1.q)
        s = format(v, "f")
        if "." in s:
            s = s.rstrip("0").rstrip(".")
        return s or "0"
    if isinstance(v, (datetime.date, datetime.datetime)):
        # LazySimpleSerDe's JSON-ish complex rendering quotes
        # date/timestamp values like strings (avro_date.q golden:
        # {"bar":"1998-05-07"})
        return f'"{hive_cell(v)}"'
    return hive_cell(v, dt)


def _canon_braces(line: str) -> str:
    """Sort the top-level entries of every ``{...}`` group (recursively,
    quote-aware).  Spark's map type does not preserve entry order and
    Hive's order is JVM-hash arbitrary, so map cells from the two
    engines disagree on ORDER while agreeing on content — applying the
    SAME canonicalization to the engine line and the golden line makes
    the compare content-exact without loosening any byte of the entries
    themselves.  Unbalanced braces (binary data) return unchanged."""
    if "{" not in line:
        return line

    def match(s: str, i: int) -> int:
        depth, q = 0, False
        while i < len(s):
            c = s[i]
            if q:
                if c == '"':
                    q = False
            elif c == '"':
                q = True
            elif c == "{":
                depth += 1
            elif c == "}":
                depth -= 1
                if depth == 0:
                    return i
            i += 1
        raise ValueError("unbalanced")

    def split_entries(s: str) -> list[str]:
        out, buf, depth, q = [], [], 0, False
        for c in s:
            if q:
                buf.append(c)
                if c == '"':
                    q = False
                continue
            if c == '"':
                q = True
            elif c in "{[":
                depth += 1
            elif c in "}]":
                depth -= 1
            if c == "," and depth == 0:
                out.append("".join(buf))
                buf = []
            else:
                buf.append(c)
        out.append("".join(buf))
        return out

    def _canon_keys(entries: list[str]) -> list[str]:
        # anonymous-struct field names are resolver-dependent: Hive
        # prints expr$0/expr$1 on the CBO path (cbo_udf_max.q) but
        # col1/col2 otherwise (udf_max.q), and Spark keeps source
        # column names for plain refs.  When ANY key is an
        # autogenerated name, rename ALL keys positionally so both
        # framings compare equal.
        keys = []
        for e in entries:
            km = re.match(r'^"((?:[^"\\]|\\.)*)":', e)
            keys.append(km.group(1) if km else None)
        if not any(
            k is not None and re.match(r"^(col\d+|expr\$\d+|_c\d+)$", k)
            for k in keys
        ):
            return entries
        out = []
        for i, e in enumerate(entries):
            if keys[i] is None:
                return entries  # mixed non-keyed content: leave alone
            out.append(f'"_f{i}":' + e.split(":", 1)[1])
        return out

    def walk(s: str) -> str:
        out, i = [], 0
        while i < len(s):
            if s[i] == "{":
                j = match(s, i)
                inner = walk(s[i + 1 : j])
                out.append(
                    "{"
                    + ",".join(sorted(_canon_keys(split_entries(inner))))
                    + "}"
                )
                i = j + 1
            else:
                out.append(s[i])
                i += 1
        return "".join(out)

    try:
        return walk(line)
    except ValueError:
        return line


def _print_header_line(eng, df, bare: str) -> str | None:
    """hive.cli.print.header=true emulation (CliDriver printHeader /
    Driver.getSchema): queries with a result schema emit one
    tab-joined column-name line before the rows.  Naming rules pinned
    by goldens: explicit projections and aliases print their (lower-
    cased) names; a bare ``SELECT * FROM one_table [alias]`` prints
    QUALIFIED ``table.col`` names (avro_schema_evolution_native.q);
    INSERT ... SELECT prints the SELECT part's schema."""
    cols = list(df.columns) if df is not None else []
    if not cols and re.match(
        r"^\s*CREATE\b", bare, re.IGNORECASE
    ):
        # CTAS prints the SELECT part's header (orc_ppd_schema_evol_1a.q
        # pins the qualified 'unique_1.i …' form)
        cm = re.search(
            r"\bAS\b\s*(\(?\s*(?:SELECT|WITH|FROM)\b[\s\S]+)$",
            bare,
            re.IGNORECASE,
        )
        if cm:
            sel = cm.group(1).strip().strip("()")
            try:
                return _print_header_line(eng, eng.sql(sel), sel)
            except Exception:
                return None
        return None
    if not cols and re.match(r"^\s*INSERT\b", bare, re.IGNORECASE):
        vm = re.search(r"\bVALUES\s*\(", bare, re.IGNORECASE)
        sm = re.search(r"\b(SELECT\b[\s\S]+)$", bare, re.IGNORECASE)
        if vm:
            # INSERT ... VALUES: the query schema is the values temp
            # table's unnamed projection — Hive prints _col0.._colN
            # (schema_evol_*.q goldens)
            from apache_hive_2_1_1_src_spark.session import HiveEngine

            tuples = HiveEngine._values_tuples(
                bare[bare.upper().index("VALUES", vm.start()) + 6 :]
            )
            if tuples:
                return "\t".join(f"_col{i}" for i in range(len(tuples[0])))
        if sm:
            # recurse on the SELECT part so the bare ``SELECT * FROM t``
            # qualification rule applies (orc_ppd_schema_evol_1b.q)
            try:
                return _print_header_line(
                    eng, eng.sql(sm.group(1)), sm.group(1)
                )
            except Exception:
                cols = []
    if not cols:
        return None
    m = re.match(
        r"^\s*SELECT\s+\*\s+FROM\s+`?([\w.]+)`?"
        r"(?:\s+(?:AS\s+)?(?!WHERE|ORDER|LIMIT|GROUP|SORT|CLUSTER|"
        r"DISTRIBUTE|UNION|HAVING)(\w+))?"
        r"\s*(?:WHERE|ORDER|LIMIT|GROUP|SORT|CLUSTER|DISTRIBUTE|$)",
        bare,
        re.IGNORECASE,
    )
    if m:
        q = (m.group(2) or m.group(1).split(".")[-1]).lower()
        return "\t".join(f"{q}.{c.lower()}" for c in cols)
    # explicit projection: Driver.getSchema keeps a bare column ref AS
    # WRITTEN (qualified 'src.key') and names an unaliased expression
    # at position i 'c<i>' (print_header.q)
    pm = re.match(
        r"(?is)^\s*SELECT\s+(?!\*)(.+?)\s+FROM\s", bare
    )
    if pm:
        items = split_top_level(pm.group(1))
        if len(items) == len(cols):
            named = []
            for i, it in enumerate(items):
                it = it.strip()
                am = re.search(
                    r"(?is)\s+AS\s+`?(\w+)`?\s*$", it
                ) or re.match(
                    r"(?is)^.+?[)\w]\s+`?(\w+)`?$",
                    it if not re.match(r"^[\w.]+$", it) else "",
                )
                if re.match(r"^[\w.]+$", it):
                    named.append(it.lower())
                elif am:
                    named.append(am.group(1).lower())
                else:
                    named.append(f"c{i}")
            return "\t".join(named)
    return "\t".join(c.lower() for c in cols)


def hive_rows(df) -> list[str]:
    # FLOAT columns print with Java Float.toString's shortest-float32
    # repr ('10022.63'), not the double expansion of the same bits —
    # numpy's float32 str implements the identical shortest-round-trip
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    # year-month intervals cannot be COLLECTED by PySpark
    # (YearMonthIntervalType.fromInternal is unimplemented) — render
    # them JVM-side in Hive's 'Y-M' framing (interval_1.q's '10-0')
    if any(
        isinstance(f.dataType, T.YearMonthIntervalType)
        for f in df.schema.fields
    ):
        # positional rename first: interval literal projections often
        # repeat the same generated name (interval_1.q selects the
        # same literal five times)
        kinds = [f.dataType for f in df.schema.fields]
        df = df.toDF(*[f"_ic{i}" for i in range(len(kinds))])
        df = df.select(
            *[
                F.regexp_extract(
                    F.col(f"_ic{i}")
                    .cast("interval year to month")
                    .cast("string"),
                    "'([^']*)'",
                    1,
                ).alias(f"_ic{i}")
                if isinstance(dt, T.YearMonthIntervalType)
                else F.col(f"_ic{i}")
                for i, dt in enumerate(kinds)
            ]
        )

    is_float = [isinstance(f.dataType, T.FloatType) for f in df.schema.fields]
    col_dts = [f.dataType for f in df.schema.fields]

    def cell(v, f32: bool, dt=None) -> str:
        if f32 and isinstance(v, float):
            return _float32_str(v)
        return hive_cell(v, dt)

    try:
        rows = df.collect()
    except ValueError as e:
        if "out of range" not in str(e) and "ordinal" not in str(e):
            raise
        # a pre-Gregorian/negative-year temporal cannot become a Python
        # datetime/date (schema_evol casts -1e11 seconds to TIMESTAMP) —
        # render those columns JVM-side
        from pyspark.sql import types as T2

        df = df.select(
            *[
                F.col(f.name).cast("string").alias(f.name)
                if isinstance(
                    f.dataType,
                    (T2.TimestampType, T2.TimestampNTZType, T2.DateType),
                )
                else F.col(f.name)
                for f in df.schema.fields
            ]
        )
        is_float[:] = [
            isinstance(f.dataType, T.FloatType) for f in df.schema.fields
        ]
        col_dts[:] = [f.dataType for f in df.schema.fields]
        rows = df.collect()
    return [
        "\t".join(
            cell(v, f32, dt)
            for v, f32, dt in zip(row, is_float, col_dts)
        )
        for row in rows
    ]


# --------------------------------------------------------------- runner
@dataclass
class QFileReport:
    name: str
    statements: int = 0
    compared: int = 0
    #: statements that matched only under float tolerance (cross-engine
    #: double accumulation-order ulps, e.g. windowed SUM over DOUBLE) —
    #: counted as passing but reported distinctly from byte-matches
    tol: int = 0
    mismatches: list[str] = field(default_factory=list)
    error: str | None = None

    @property
    def ok(self) -> bool:
        return self.error is None and not self.mismatches


def _statements_ordered(qtext: str, eng):
    """(hooked, statement) pairs in script order; a statement is
    unhooked when its first non-comment line is a dfs/set command.
    QTestUtil runs dfs commands in sequence with queries, and their
    output (``Found N items`` from ``dfs -ls``) lands in the PRECEDING
    query's golden block."""
    out = []
    for s in eng.split_statements(qtext):
        bare = "\n".join(
            ln for ln in s.splitlines() if not re.match(r"^\s*--", ln)
        ).strip()
        out.append((not _UNHOOKED.match(bare), s))
    return out


def _write_redirect_dir() -> str:
    """Scratch mirror for .q write targets that would otherwise land in
    the read-only reference tree (../../data/files)."""
    import tempfile

    d = os.path.join(tempfile.gettempdir(), "qtest_redirect")
    os.makedirs(d, exist_ok=True)
    return d


def _hdfs_emu_dir() -> str:
    """Local sandbox standing in for QTestUtil's default (mini)DFS —
    hdfs:// URIs and scheme-less non-LOCAL directory targets resolve
    here, keeping them DISTINCT from identically-named file:// paths
    (schemeAuthority.q)."""
    import tempfile

    # per-process: concurrent sweep shards each reset their own sandbox
    d = os.path.join(
        tempfile.gettempdir(), f"qtest_hdfs_emu_{os.getpid()}"
    )
    os.makedirs(d, exist_ok=True)
    return d


def _emulate_dfs(eng, stmt: str) -> list[str]:
    """Hadoop-shell dfs commands QTestUtil executes inline
    (CliDriver → FsShell): emulate the handful the .q corpus uses
    against the LOCAL fs, returning the output lines that land in the
    golden block.  ``-ls`` prints ``Found N items`` (per-entry lines are
    path-masked in goldens and dropped by parse_qout); ``-rmr``/``-rm``
    and ``-mkdir`` act only under the system tmpdir — a .q file must
    never be able to delete outside the scratch space."""
    import shutil
    import tempfile

    s = eng.substitute(stmt).strip()
    s = re.sub(r"^dfs\s+", "", s, flags=re.IGNORECASE).strip().rstrip(";")
    parts = s.split()
    if not parts:
        return []
    cmd, path = parts[0], (parts[-1] if len(parts) > 1 else "")
    path = re.sub(r"^file:/*", "/", path)
    tmp = os.path.realpath(tempfile.gettempdir())
    real = os.path.realpath(path or "/")
    # prefix check must be separator-anchored: /tmpfoo shares the string
    # prefix of /tmp but is OUTSIDE the scratch space.  The engine's
    # OWN warehouse is writable scratch too — repair.q dfs-mkdirs
    # partition dirs directly under the table location
    try:
        _wh_conf = eng.spark.conf.get(
            "spark.sql.warehouse.dir", "/nonexistent"
        )
    except AttributeError:
        _wh_conf = "/nonexistent"
    wh = os.path.realpath(re.sub(r"^file:/*", "/", _wh_conf))
    inside_tmp = (
        real == tmp
        or real.startswith(tmp + os.sep)
        or real == wh
        or real.startswith(wh + os.sep)
    )
    if path and not os.path.exists(path):
        emu = _hdfs_emu_dir()
        if os.path.exists(emu + path):
            # a default-fs (hdfs-sandbox) path referenced scheme-less
            path = emu + path
            inside_tmp = True
        elif not inside_tmp and cmd in (
            "-cp", "-put", "-copyFromLocal", "-mkdir", "-rmr", "-rm"
        ):
            # scheme-less absolute WRITE outside scratch resolves
            # against the default fs → land it in the hdfs sandbox
            # (root_dir_external_table.q's ``dfs -cp ... /000000_0``)
            path = emu + path
            inside_tmp = True
    if cmd == "-ls":
        # Hive table dirs carry only data files (MoveTask); Spark's
        # _SUCCESS markers and .crc shadows would inflate the count
        try:
            entries = [
                e for e in os.listdir(path) if not e.startswith((".", "_"))
            ]
            return [f"Found {len(entries)} items"]
        except OSError:
            return []
    if cmd == "-cat":
        # a .q cat of a directory it just wrote: the write target was
        # redirected out of the read-only reference tree, so follow the
        # same mapping; Hive names its single output 000000_0 while the
        # engine writes part-* files — cat every data file in the dir
        # (the runner's sorted compare makes the concatenation
        # order-insensitive)
        if not os.path.exists(path) and path.startswith(DATA_DIR):
            path = _write_redirect_dir() + path[len(DATA_DIR):]
        if not os.path.exists(path) and os.path.exists(
            _hdfs_emu_dir() + path
        ):
            # a non-LOCAL directory write landed in the hdfs sandbox
            path = _hdfs_emu_dir() + path
        # -cat of a WAREHOUSE TABLE directory: the engine stores parquet,
        # not text — render the table's rows in its declared LazySimple
        # framing (field delim + serialization.null.format), which is
        # what the golden's raw-file view shows (nullformat.q)
        target = (
            re.sub(r"/\*[^/]*$", "", path) if "*" in path else path
        )
        try:
            wh = re.sub(
                r"^file:/*", "/",
                eng.spark.conf.get("spark.sql.warehouse.dir"),
            )
        except Exception:
            wh = ""
        if (
            wh
            and not os.path.exists(target)
            and "/target/warehouse/" in target + "/"
            and os.path.isdir(
                os.path.join(wh, os.path.basename(target))
            )
        ):
            # ${system:test.warehouse.dir}/<table> names the BUILD
            # warehouse; the engine's tables live in Spark's
            target = os.path.join(wh, os.path.basename(target))
        if (
            wh
            and os.path.isdir(target)
            and os.path.realpath(os.path.dirname(target))
            == os.path.realpath(wh)
        ):
            tname = os.path.basename(target).lower()
            try:
                if eng.spark.catalog.tableExists(tname) and not (
                    catalog_entry(eng.spark, tname).partition_cols
                ):
                    desc = eng.table_desc(tname)
                    return [
                        desc.field_delim.join(
                            desc.null_format if v is None else hive_cell(v)
                            for v in row
                        )
                        for row in eng.spark.table(tname).collect()
                    ]
            except Exception:
                pass
        cand = [path]
        if not os.path.isfile(path):
            # an existing DIRECTORY cats its own contents; only a
            # missing path (e.g. Hive's 000000_0 vs the engine's
            # part-* names) falls back to the parent listing
            d = path if os.path.isdir(path) else os.path.dirname(path)
            try:
                cand = sorted(
                    os.path.join(d, e)
                    for e in os.listdir(d)
                    if not e.startswith((".", "_"))
                )
            except OSError:
                return []
        lines: list[str] = []
        for fp in cand:
            try:
                with open(fp, encoding="utf-8", errors="replace") as fh:
                    lines.extend(fh.read().splitlines())
            except OSError:
                pass
        return lines
    if cmd in ("-rmr", "-rm") and inside_tmp:
        shutil.rmtree(path, ignore_errors=True)
    elif cmd == "-mkdir" and inside_tmp:
        os.makedirs(path, exist_ok=True)
    elif cmd == "-touchz" and inside_tmp:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        open(path, "a").close()
    elif cmd in ("-put", "-cp", "-copyFromLocal") and len(parts) >= 3 and inside_tmp:
        # -put <src> <dst>: dst must land in scratch (inside_tmp checks
        # the LAST operand = dst).  A src the engine wrote has part-*
        # names where Hive's golden says 000000_0 — copy every data file
        # of the src dir into dst's directory instead of renaming.
        src = re.sub(r"^file:/*", "/", parts[1])
        if not os.path.exists(src) and src.startswith(DATA_DIR):
            src = _write_redirect_dir() + src[len(DATA_DIR):]
        if not os.path.exists(src):
            for cand_src in (
                _hdfs_emu_dir() + src,
                os.path.join(
                    _hdfs_emu_dir() + os.path.dirname(src),
                    os.path.basename(src),
                ),
            ):
                if os.path.exists(cand_src) or os.path.isdir(
                    os.path.dirname(cand_src)
                ):
                    # the sandbox holds the dir even when the exact
                    # reducer-numbered file name differs (part-*)
                    src = cand_src
                    break
        if os.path.isdir(src) and not os.path.exists(path):
            # copying a DIRECTORY to a missing dst creates dst itself
            # (FsShell cp dir semantics — file_with_header_footer.q
            # copies header_footer_table_1/ under /tmp/test/)
            dst_dir = path
        else:
            dst_dir = path if os.path.isdir(path) else os.path.dirname(path)
        os.makedirs(dst_dir, exist_ok=True)
        srcs = [src]
        if not os.path.isfile(src):
            # copy an existing directory's OWN files; only a missing
            # path falls back to its parent (part-* rename case)
            d = src if os.path.isdir(src) else os.path.dirname(src)
            try:
                srcs = [
                    os.path.join(d, e)
                    for e in sorted(os.listdir(d))
                    if not e.startswith((".", "_"))
                ]
            except OSError:
                srcs = []
        for sp in srcs:
            if os.path.isfile(sp):
                shutil.copy(sp, os.path.join(dst_dir, os.path.basename(sp)))
            elif os.path.isdir(sp):
                # FsShell cp -r semantics: nested fixture layouts
                # (header_footer_table_2/2012/01/01) copy whole
                shutil.copytree(
                    sp,
                    os.path.join(dst_dir, os.path.basename(sp)),
                    dirs_exist_ok=True,
                )
    return []


def _column_access_lines(df) -> list[str]:
    """CheckColumnAccessHook emulation (ql/.../hooks/CheckColumnAccessHook
    + ColumnAccessAnalyzer): per base table, the columns the query
    actually references — ``Table:db@tbl`` / ``Columns:a,b`` / blank —
    derived from the OPTIMIZED plan: Hive's ColumnAccessAnalyzer runs
    after column pruning, so a subquery column the outer query drops is
    NOT accessed, while a partition filter's column is."""
    import json

    plan = df._jdf.queryExecution().optimizedPlan()  # noqa: SLF001
    if plan.getClass().getSimpleName() == "CommandResult":
        # an eagerly-executed INSERT: the table accesses live in the
        # command's own logical plan, not the result wrapper
        plan = plan.commandLogicalPlan()
    raw = plan.toJSON()
    nodes = json.loads(raw)

    def _out_ids(p) -> set:
        seq = p.output()
        return {
            (seq.apply(k).exprId().id(), str(seq.apply(k).exprId().jvmId()))
            for k in range(seq.size())
        }

    # attributes in the final output are accessed even when the optimizer
    # collapsed the projection (SELECT * has no Project node to reference
    # them); a write command's own output is empty — use its query's
    root_ids = _out_ids(plan)
    if not root_ids:
        try:
            root_ids = _out_ids(plan.query())
        except Exception:
            pass
    lines: list[str] = []
    per_table: dict[str, set] = {}
    for n in nodes:
        ct = n.get("catalogTable")
        outs = n.get("output")
        if not ct or not outs:
            continue
        ident = ct.get("identifier", {})
        tname = f"{ident.get('database', 'default')}@{ident.get('table')}"
        accessed = per_table.setdefault(tname, set())
        for group in outs:
            for attr in group:
                eid = attr.get("exprId", {})
                sig = f'"id":{eid.get("id")},"jvmId":"{eid.get("jvmId")}"'
                if (
                    raw.count(sig) >= 2  # definition + >=1 reference
                    or (eid.get("id"), str(eid.get("jvmId"))) in root_ids
                ):
                    accessed.add(attr["name"])
    for tname in sorted(per_table):
        cols = per_table[tname]
        if not cols:
            continue
        lines += [f"Table:{tname}", "Columns:" + ",".join(sorted(cols)), ""]
    return lines


def _rows_equal_tol(
    got: list[str], want: list[str], rel: float = 1e-8, abs_: float = 1e-9
) -> bool:
    """Cell-wise comparison allowing relative float tolerance: Hive's
    streaming window aggregation accumulates DOUBLEs in its reducer's
    frame order, Spark in Catalyst's — the last-ulp digits legitimately
    differ cross-engine (windowing.q sum/avg columns).  Non-numeric
    cells must still match byte-for-byte."""
    if len(got) != len(want):
        return False
    for g, w in zip(got, want):
        gc, wc = g.split("\t"), w.split("\t")
        if len(gc) != len(wc):
            return False
        for a, b in zip(gc, wc):
            if a == b:
                continue
            # numeric-array cells (percentile_approx(array(...)) prints
            # [x, y, …]) — tolerance applies element-wise
            if (
                a.startswith("[")
                and a.endswith("]")
                and b.startswith("[")
                and b.endswith("]")
            ):
                ea, eb = a[1:-1].split(","), b[1:-1].split(",")
                if len(ea) != len(eb):
                    return False
                ok = True
                for x, y in zip(ea, eb):
                    if x.strip() == y.strip():
                        continue
                    try:
                        fx, fy = float(x), float(y)
                    except ValueError:
                        ok = False
                        break
                    if not abs(fx - fy) <= max(
                        abs_, rel * max(abs(fx), abs(fy))
                    ):
                        ok = False
                        break
                if ok:
                    continue
                return False
            try:
                fa, fb = float(a), float(b)
            except ValueError:
                return False
            if not abs(fa - fb) <= max(abs_, rel * max(abs(fa), abs(fb))):
                return False
    return True


#: fixture tables that survive across .q files (QTestUtil's srcTables)
FIXTURES = {
    "src", "src1", "srcpart",
    "cbo_t1", "cbo_t2", "cbo_t3", "src_cbo", "part", "lineitem",
}


def cleanup_scratch_tables(eng) -> None:
    """QTestUtil.clearTablesCreatedDuringTests: drop every non-fixture
    table (and its warehouse dir) so each .q starts clean."""
    from apache_hive_2_1_1_src_spark.queries.storage import drop_table

    # a prior .q may have left the session in its own database (USE db);
    # everything below — and the next file — must run against default
    eng.spark.sql("USE default")
    # table descriptors and the temp-table registry must not leak onto a
    # LATER file's same-named table (the tables themselves are dropped
    # below, outside HiveEngine.sql)
    eng._tables.clear()
    eng._temp_tables.clear()
    for row in eng.spark.sql("SHOW TABLES").collect():
        if row.tableName in FIXTURES:
            continue
        if row.isTemporary:
            # temp tables/views from a prior .q would SHADOW a later
            # file's real table of the same name (QTestUtil clears them)
            eng.spark.sql(f"DROP VIEW IF EXISTS {row.tableName}")
            continue
        try:
            drop_table(eng.spark, row.tableName)
        except Exception:
            # a persistent VIEW lists as a table but needs DROP VIEW
            eng.spark.sql(f"DROP VIEW IF EXISTS {row.tableName}")
    for db in eng.spark.sql("SHOW DATABASES").collect():
        if db.namespace != "default":
            eng.spark.sql(f"DROP DATABASE IF EXISTS {db.namespace} CASCADE")


def run_qfile(eng, name: str) -> QFileReport:
    """Execute one reference .q file and compare against its .q.out."""
    from apache_hive_2_1_1_src_spark.queries.storage import drop_table

    rep = QFileReport(name=name)
    # qtest runs compare against Hive's own goldens — use the
    # Hive-exact NumericHistogram percentile path (the default engine
    # SQL keeps Spark's mergeable native sketch; see
    # session._rewrite_percentile_approx scale gate)
    eng.hive_exact_percentile = True
    cleanup_scratch_tables(eng)
    # QTestUtil re-initializes the session conf per test file — a SET
    # from one .q must not leak into the next (cbo_rp_windowing_2's
    # returnpath flag would otherwise rewrite ptf_decimal's cume_dist)
    eng.sql("RESET")
    # ... and clears authorization state (clearTestSideEffects drops
    # roles): a role created by one .q must not pre-exist in the next
    # (authorization_non_id.q re-creates src_role2)
    try:
        # authz is a lazy read-only property — reset the backing slot
        eng._authz = type(eng.authz)()
    except Exception:
        pass
    qpath = os.path.join(Q_DIR, f"{name}.q")
    opath = os.path.join(OUT_DIR, f"{name}.q.out")
    qtext = open(qpath, encoding="utf-8", errors="replace").read()
    # path remap: .q files address fixture data relative to ql/src/test
    qtext = qtext.replace("../../data/files", DATA_DIR)
    qtext = qtext.replace("${system:test.data.dir}", DATA_DIR)

    # ``source <file>;`` inlines another script (CliDriver
    # processFile — source.q): splice its statements in place so the
    # golden blocks line up
    def _inline_source(m: "re.Match") -> str:
        p = m.group(1).strip().strip("'\"")
        try:
            return open(p, encoding="utf-8").read()
        except OSError:
            return ""

    qtext = re.sub(
        r"(?im)^source\s+([^;\n]+);[ \t]*$", _inline_source, qtext
    )
    # QTestUtil's default fs is a (mini)DFS DISTINCT from file:// —
    # schemeAuthority.q writes key=10 to file:///tmp/test and key=20 to
    # hdfs:///tmp/test and reads BOTH back.  Emulate hdfs as a separate
    # local sandbox: hdfs://[auth]/X → file://<emu>/X, and scheme-less
    # NON-LOCAL directory targets (which Hive resolves against the
    # default fs) map into the same sandbox.
    emu = _hdfs_emu_dir()
    # per-file sandbox: a shared dir would leak one .q file's exports
    # into another's table-at-root reads (root_dir_external_table.q)
    import shutil as _sh

    _sh.rmtree(emu, ignore_errors=True)
    os.makedirs(emu, exist_ok=True)
    qtext = re.sub(r"hdfs://[^/'\"\s]*", "file://" + emu, qtext)
    # ProxyLocalFileSystem's pfile: scheme IS the local filesystem with
    # proxy bookkeeping (QTestUtil sets fs.pfile.impl) — plain file here
    qtext = qtext.replace("pfile:", "file:")
    # WRITE targets (INSERT OVERWRITE [LOCAL] DIRECTORY) that land under
    # the reference tree are redirected to scratch — the reference is
    # read-only; QTestUtil's real runs write into a build dir anyway.
    # dfs -cat of those paths follows the same mapping (_emulate_dfs).
    qtext = re.sub(
        r"(?i)(DIRECTORY\s+')" + re.escape(DATA_DIR),
        lambda m: m.group(1) + _write_redirect_dir(),
        qtext,
    )
    # QTestUtil resolves the RELATIVE 'target/warehouse/...' build-dir
    # form against the test warehouse (ppd_multi_insert.q writes there
    # and LOADs back via ${system:test.warehouse.dir})
    _wh_sub = eng._vars.get("system:test.warehouse.dir", "")
    if _wh_sub:
        qtext = re.sub(
            r"(?i)(DIRECTORY\s+')target/warehouse/",
            lambda m: m.group(1) + _wh_sub.rstrip("/") + "/",
            qtext,
        )
    # a scheme-less ABSOLUTE non-LOCAL directory target resolves against
    # the default (sandbox) fs — but only remap when the SAME path is
    # also referenced with an explicit file:// scheme in this file
    # (schemeAuthority.q writes the same /tmp/test via both filesystems
    # and reads both back); otherwise local-fs emulation is consistent
    # on both the write and the read side
    def _emu_dir_target(m: "re.Match") -> str:
        p = m.group(3)
        if p.startswith((emu, _write_redirect_dir(), DATA_DIR)):
            return m.group(0)
        if f"file://{p}" not in qtext and f"file:{p}" not in qtext:
            return m.group(0)
        return f"{m.group(1)}{m.group(2)}{emu}{p}{m.group(2)}"

    qtext = re.sub(
        r"(?i)\b(INSERT\s+OVERWRITE\s+DIRECTORY\s+)(['\"])(/[^'\"]*)\2",
        _emu_dir_target,
        qtext,
    )
    # pre-clean every table this .q creates — a crashed earlier run may
    # have left a warehouse dir behind without a catalog entry
    for tname in re.findall(
        r"CREATE\s+(?:TEMPORARY\s+)?(?:EXTERNAL\s+)?TABLE\s+"
        r"(?:IF\s+NOT\s+EXISTS\s+)?(`[^`]+`|[\w]+)",
        qtext,
        re.IGNORECASE,
    ):
        if tname.startswith("`"):
            # hostile quoted name: the engine stores it under its
            # sanitized _xHH_ escape — pre-clean that physical table
            tname = re.sub(
                r"[^0-9A-Za-z_]",
                lambda m: f"_x{ord(m.group(0)):02x}_",
                tname.strip("`"),
            )
        if tname.lower() not in FIXTURES:
            drop_table(eng.spark, tname)
    if "tbl_created_by_init" in qtext:
        # QTestUtil preloads data/scripts/test_init_file.sql via the
        # CLI's -i option; its statement appears in the golden, so run
        # it as a positioned statement (init_file.q)
        drop_table(eng.spark, "tbl_created_by_init")
        qtext = "create table tbl_created_by_init(i int);\n" + qtext
    ordered = _statements_ordered(qtext, eng)
    blocks = parse_qout(opath)
    n_hooked = sum(1 for h, _ in ordered if h)
    if n_hooked == len(blocks):
        # counts agree: positional 1:1 pairing (the common case)
        paired = iter(blocks)
        pairing = {"mode": "pos", "it": paired}
    else:
        # counts disagree: QTestUtil emits no PREHOOK block for some
        # statement kinds (USE, ...) and merges others — align each
        # statement to its golden block by the ECHOED QUERY TEXT; a
        # statement with no matching block executes uncompared, but
        # every golden block must be consumed or the file errors
        pairing = {"mode": "text", "bi": 0}

    def _norm(s: str) -> str:
        s = "\n".join(
            ln for ln in s.splitlines() if not re.match(r"^\s*--", ln)
        )
        # undo the runner's path remaps so statement text aligns with
        # the golden's original spelling (LOAD '../../data/files/…',
        # hdfs:// URIs, redirected write targets)
        s = s.replace(DATA_DIR, "../../data/files")
        s = s.replace("file://" + _hdfs_emu_dir(), "hdfs://")
        s = s.replace(_write_redirect_dir(), "../../data/files")
        return " ".join(s.split()).lower().rstrip(";")

    def _next_block(stmt: str):
        if pairing["mode"] == "pos":
            return next(pairing["it"])
        bi = pairing["bi"]
        if bi >= len(blocks):
            return None
        bq, ns = _norm(blocks[bi].query), _norm(stmt)
        if bq == ns or bq[:60] == ns[:60]:
            pairing["bi"] = bi + 1
            return blocks[bi]
        return None
    # statements run IN ORDER (QTestUtil's CliDriver loop): SET/RESET
    # mutate session state for what follows; dfs commands are emulated
    # (their -ls output lands in the PRECEDING query's golden block, so
    # the compare of a block is deferred until the next hooked statement)
    pending: dict | None = None

    # -- SORT_AND_HASH_QUERY_RESULTS (QTestUtil → SortAndDigestPrint-
    # Stream): each query's golden block is its SORTED rows followed by
    # base64(md5(concatenated sorted row bytes)) — emulate the digest
    # line so the compare sees the same shape
    sort_hash = "SORT_AND_HASH_QUERY_RESULTS" in qtext
    qtext_lines = {ln.strip() for ln in qtext.splitlines() if ln.strip()}
    qtext_lines |= {ln.rstrip(";") for ln in qtext_lines}

    def _flush() -> None:
        nonlocal pending
        if pending is None:
            return
        block, got, bare = pending["block"], pending["got"], pending["bare"]
        pending = None
        # trailing blanks are usually framing — but an EMPTY-STRING cell
        # is a legitimate row (orc_empty_strings.q selects '' ten
        # times): only pop down to the golden's row count
        while (
            got
            and got[-1] == ""
            and len(got) > len(block.results)
        ):
            got.pop()
        if not block.results:
            return
        # a cell holding a REAL newline prints across physical lines in
        # the Hive CLI, and parse_qout reads the golden line-wise —
        # expand our rows the same way (udtf_json_tuple.q's {"a":"b\nc"},
        # query_result_fileformat.q)
        if any("\n" in g or "\r" in g for g in got):
            got = [
                piece
                for g in got
                for piece in re.split("\r\n|\r|\n", g)
            ]
            # a value ENDING in \n (printf("...\n")) prints a blank
            # trailing line the golden block does not keep — re-apply
            # the trailing-blank pop after the expansion
            while (
                got
                and got[-1] == ""
                and len(got) > len(block.results)
            ):
                got.pop()
        if sort_hash:
            import base64
            import hashlib

            raw = sorted(got)
            got = raw + [
                base64.b64encode(
                    hashlib.md5("".join(raw).encode("utf-8")).digest()
                ).decode()
            ]
        got = sorted(_canon_braces(l) for l in got)
        want = sorted(_canon_braces(l) for l in block.results)
        if got != want:
            # orphaned query-echo continuations: when a multi-line
            # PREHOOK query's FIRST line holds a maskable path, the
            # masker eats it and the continuation lines leak into the
            # result block (insert_overwrite_directory2.q.out line 30).
            # A golden-only line that is verbatim a .q source line is
            # such an echo, never data — engine-produced rows matching
            # a source line would appear in `got` too.
            want = [
                l for l in want if l in got or l.strip() not in qtext_lines
            ]
        if got != want and _rows_equal_tol(got, want):
            rep.tol += 1
            rep.compared += 1
            return
        if got != want:
            diff_g = [l for l in got if l not in want][:3]
            diff_w = [l for l in want if l not in got][:3]
            rep.mismatches.append(
                f"{bare.splitlines()[0][:60]}: {len(got)} rows vs "
                f"{len(want)} golden; extra={diff_g} missing={diff_w}"
            )
        rep.compared += 1

    for is_hooked, stmt in ordered:
        if not is_hooked:
            s = stmt.strip()
            sm = re.match(r"^set\s+([\w.:-]+)\s*;?\s*$", s, re.IGNORECASE)
            if sm:
                # value QUERY (no '='): CliDriver prints key=value into
                # the surrounding golden block (reset_conf.q)
                line = eng.set_value_query_line(sm.group(1))
                if pending is not None and line:
                    pending["got"].append(line)
                continue
            if re.match(r"^(set|reset)\b", s, re.IGNORECASE):
                eng.sql(stmt)
            elif re.match(r"^dfs\b", s, re.IGNORECASE):
                lines = _emulate_dfs(eng, stmt)
                if pending is not None and lines:
                    pending["got"].extend(lines)
            continue
        block = _next_block(stmt)
        if block is not None:
            # an UNMATCHED statement (text-mode pairing: QTestUtil
            # emitted no golden block for it, e.g. LOAD DATA INPATH)
            # must keep the previous block's pending compare OPEN —
            # its trailing dfs output still belongs there
            # (load_orc_part.q's final dfs -ls)
            _flush()
        rep.statements += 1
        # drop comment-only lines: the engine's statement-form dispatch
        # regexes are anchored at ^ (CliDriver strips these too)
        stmt = "\n".join(
            ln for ln in stmt.splitlines() if not re.match(r"^\s*--", ln)
        ).strip() or stmt
        bare = re.sub(r"--[^\n]*", "", stmt).strip()
        if re.match(r"^EXPLAIN\b", bare, re.IGNORECASE):
            continue  # golden plans are MR-specific
        if "PostExecOrcFileDump" in eng._vars.get(
            "hive.exec.post.hooks", ""
        ):
            # the post-hook dumps the PHYSICAL ORC file structure
            # (stripe stats, encodings) into the golden block — this
            # engine's files are Spark-written and can never match
            # byte-level; run the statement, skip the diff
            # (orc_merge11.q / orc_merge12.q)
            eng.sql(stmt).collect()
            continue
        df = eng.sql(stmt)
        if re.match(r"^(DESC|DESCRIBE|SHOW)\b", bare, re.IGNORECASE):
            # metadata FRAMING differs (Hive's column padding / section
            # headers); the surface itself is gate-covered (q93, q176,
            # q218) — execute for side-effect coverage, skip the diff
            df.collect()
            continue
        got = (
            hive_rows(df) if df is not None and df.columns else []
        )
        if str(
            eng._vars.get("hive.cli.print.header", "")
        ).lower() == "true" and re.search(
            r"\bSELECT\b|^\s*INSERT\b[\s\S]*\bVALUES\s*\(", bare, re.IGNORECASE
        ):
            hdr = _print_header_line(eng, df, bare)
            if hdr is not None:
                got = [hdr] + got
        elif str(
            eng._vars.get("hive.cli.print.header", "")
        ).lower() == "true" and re.match(
            r"^\s*(UPDATE|DELETE)\b", bare, re.IGNORECASE
        ):
            # ACID UPDATE/DELETE rewrite to an internal SELECT whose
            # header the CLI prints: row__id + columns, an assigned
            # column showing its generated _c<pos> name; DELETE selects
            # row__id alone (schema_evol_orc_acid_* goldens)
            um = re.match(
                r"(?is)^\s*UPDATE\s+((?:`[^`]+`|[\w.])+)\s+SET\s+(.+?)"
                r"(?:\s+WHERE\b.*)?$",
                bare.rstrip(";"),
            )
            dm_h = re.match(
                r"(?is)^\s*DELETE\s+FROM\s+((?:`[^`]+`|[\w.])+)",
                bare,
            )
            tbl_h = (um or dm_h).group(1) if (um or dm_h) else None
            pcols_h = [
                p.lower() for p in catalog_entry(eng.spark, tbl_h).partition_cols
            ] if tbl_h else []
            if um:
                try:
                    cols = eng.spark.table(um.group(1)).columns
                except Exception:
                    cols = []
                assigned = {
                    a.split("=", 1)[0].strip().strip("`").lower()
                    for a in um.group(2).split(",")
                }
                if cols:
                    parts_h = ["row__id"]
                    for i, c in enumerate(cols, start=1):
                        parts_h.append(
                            f"_c{i}" if c.lower() in assigned else c.lower()
                        )
                    got = ["\t".join(parts_h)] + got
            else:
                # DELETE selects row__id plus the partition columns
                got = ["\t".join(["row__id"] + pcols_h)] + got
        hooks = eng._vars.get("hive.exec.post.hooks", "")
        if "VerifyOverriddenConfigsHook" in hooks and re.match(
            r"^(SELECT|FROM|WITH)\b", bare, re.IGNORECASE
        ):
            # the hook prints SessionState's overridden configurations
            # (every key SET in this session) per query
            got = [
                f"Key: {k}, Value: {v}"
                for k, v in eng._vars.items()
                if not k.startswith(("system:", "env:"))
            ] + got
        if "CheckColumnAccessHook" in hooks and re.match(
            r"^(SELECT|FROM|WITH)\b", bare, re.IGNORECASE
        ):
            try:
                got = _column_access_lines(df) + got
            except Exception:
                pass
        if "CheckQueryPropertiesHook" in hooks and re.match(
            r"^(SELECT|FROM|WITH)\b", bare, re.IGNORECASE
        ):
            # CheckQueryPropertiesHook (ql/.../hooks/) prints the
            # QueryProperties flags the SemanticAnalyzer collected —
            # all derivable from the statement text (query_properties.q)
            b = re.sub(r"'[^']*'", "''", bare)
            has_join = bool(re.search(r"(?i)\bjoin\b", b))
            has_gb = bool(re.search(r"(?i)\bgroup\s+by\b", b))
            # 'after join' is per QUERY BLOCK (QueryProperties is set by
            # the same SemanticAnalyzer instance): a join inside a
            # subquery does not mark the OUTER group-by
            depth, dep = [], 0
            for ch in b:
                if ch == "(":
                    dep += 1
                depth.append(dep)
                if ch == ")":
                    dep -= 1
            jd = {
                depth[mm.start()]
                for mm in re.finditer(r"(?i)\bjoin\b", b)
            }
            gd = {
                depth[mm.start()]
                for mm in re.finditer(r"(?i)\bgroup\s+by\b", b)
            }
            gb_after_join = bool(jd & gd)
            got = [
                f"Has Join: {str(has_join).lower()}",
                f"Has Group By: {str(has_gb).lower()}",
                "Has Sort By: "
                + str(bool(re.search(r"(?i)\bsort\s+by\b", b))).lower(),
                "Has Order By: "
                + str(bool(re.search(r"(?i)\border\s+by\b", b))).lower(),
                "Has Group By After Join: "
                + str(gb_after_join).lower(),
                "Uses Script: "
                + str(
                    bool(re.search(r"(?i)\btransform\s*\(", b))
                ).lower(),
                "Has Distribute By: "
                + str(
                    bool(re.search(r"(?i)\bdistribute\s+by\b", b))
                ).lower(),
                "Has Cluster By: "
                + str(
                    bool(re.search(r"(?i)\bcluster\s+by\b", b))
                ).lower(),
            ] + got
        if block is not None:
            pending = {"block": block, "got": got, "bare": bare}
    _flush()
    if pairing["mode"] == "text" and pairing["bi"] != len(blocks):
        rep.error = (
            f"unmatched golden blocks: consumed {pairing['bi']} of "
            f"{len(blocks)} (next: "
            f"{blocks[pairing['bi']].query.splitlines()[0][:60]!r})"
        )
    return rep
