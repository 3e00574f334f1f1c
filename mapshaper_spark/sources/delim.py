"""Delimited-text source with mapshaper's import semantics.

The reference auto-detects the delimiter from the filename/content
(/root/reference/src/text/mapshaper-delim-import.js:9-46), imports every
column as string, then promotes columns that parse fully numeric
(adjustRecordTypes :109-134, tryNumericField :153-171 — empty/NA/NaN
tolerated), with explicit overrides via field-types=/string-fields=
(/root/reference/src/cli/mapshaper-options.js:131-132).

Import is all-string (UTF-8: spark.read.text + from_csv with the exact
empty-vs-missing reconstruction in ``_read_delim_exact``; other
encodings: the csv reader with a sentinel nullValue), then
``_try_numeric_columns`` applies the reference promotion rules in one
aggregation job; overrides are applied as casts after the fact.
"""

from __future__ import annotations

from typing import Mapping, Sequence

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


SUPPORTED_DELIMITERS = ["|", "\t", ",", ";"]


def guess_delimiter(content: str) -> str:
    """internal.guessDelimiter (mapshaper-delim-import.js:55-74): the first
    of | \\t , ; that appears before the first line break (header line),
    falling back to comma."""
    import re
    first = re.split(r"[\n\r]", content, 1)[0]
    for d in SUPPORTED_DELIMITERS:
        if d in first and first.index(d) > 0:
            return d
    return ","


def detect_delimiter(path: str, encoding: str = "UTF-8") -> str:
    """Sniff the delimiter from the file's first 2000 chars (the reference
    reads the same window, mapshaper-delim-import.js:36)."""
    with open(path, "r", encoding=encoding, errors="replace") as f:
        return guess_delimiter(f.read(2000))


def parse_number(raw):
    """utils.parseNumber (mapshaper-utils.js:209-213): trim, strip comma
    separators, then JS Number() semantics — decimal/scientific, hex
    (0x..), Infinity; unparseable/empty -> None (never NaN)."""
    if raw is None:
        return None
    s = str(raw).strip().replace(",", "")
    if not s:
        return None
    try:
        if _HEX_RE.match(s):
            return float(int(s, 16))
        if s in ("Infinity", "+Infinity"):
            return float("inf")
        if s == "-Infinity":
            return float("-inf")
        v = float(s)
    except ValueError:
        return None
    return None if v != v else v  # NaN -> null like the reference


import re as _re

_HEX_RE = _re.compile(r"^0[xX][0-9a-fA-F]+$")
# JS Number()-parseable decimal/scientific after comma-stripping
_NUM_SQL_RE = (r"^[+-]?(((\d+\.?\d*)|(\.\d+))([eE][+-]?\d+)?"
               r"|0[xX][0-9a-fA-F]+|Infinity)$")


def _try_numeric_columns(df: DataFrame, skip: set) -> DataFrame:
    """internal.tryNumericField (mapshaper-delim-import.js:153-171) over
    the columns Spark's inferSchema left as string: promote a column to
    double when every value is parseable / empty / 'NA' / 'NaN' and at
    least one value parses. One aggregation job covers all candidates."""
    from pyspark.sql.types import StringType
    cands = [f.name for f in df.schema.fields
             if isinstance(f.dataType, StringType) and f.name not in skip]
    if not cands:
        return df
    aggs = []
    cleaned = {}
    for c in cands:
        cl = F.regexp_replace(F.trim(F.col(c)), ",", "")
        cleaned[c] = cl
        ok = cl.rlike(_NUM_SQL_RE) | cl.isin("", "NA", "NaN") | cl.isNull()
        aggs.append(F.min(ok.cast("int")).alias(f"__ok_{c}"))
        aggs.append(F.max((cl.rlike(_NUM_SQL_RE) &
                           ~cl.isin("NaN", "Infinity", "+Infinity",
                                    "-Infinity")).cast("int"))
                    .alias(f"__num_{c}"))
    stats = df.agg(*aggs).collect()[0]
    for c in cands:
        if stats[f"__ok_{c}"] == 1 and stats[f"__num_{c}"] == 1:
            cl = cleaned[c]
            hexv = F.conv(F.regexp_replace(cl, "^0[xX]", ""), 16, 10) \
                .cast("double")
            val = (F.when(cl.isin("", "NA", "NaN") | cl.isNull(),
                          F.lit(None).cast("double"))
                   .when(cl.rlike("^0[xX]"), hexv)
                   .otherwise(cl.try_cast("double")))
            df = df.withColumn(c, val)
    return df


# practically-unmatchable null sentinel: setting the csv reader's
# nullValue to this keeps empty cells from collapsing to null
_NULL_SENTINEL = "__MS_NULL_7f3a9c__"


def _read_delim_exact(spark: SparkSession, path: str, delimiter: str,
                      header: str) -> DataFrame:
    """All-JVM line parse with exact reference empty-vs-missing semantics:
    ``spark.read.text`` (splittable) + ``from_csv`` + a quote-aware field
    count per line. A parsed null at position i is a PRESENT empty cell
    (-> \'\') when i < the line's field count, else a MISSING field
    (-> null) -- delim-import-test.js 'handle empty fields' vs 'missing
    fields are filled out with nulls'. The field count strips quoted
    sections first, so delimiters inside quotes (including RFC4180 doubled
    quote escapes) don't inflate it. Only the file's first line is the
    header: a later line equal to it is data. Corner narrowed vs the
    reference: multiline quoted fields are unsupported (as with Spark's
    default multiLine=false csv reader)."""
    # column naming via Spark's csv header normalization (dedup/_cN),
    # consistent with the non-UTF8 path; header-only driver read
    names = (spark.read.option("header", True)
             .option("delimiter", delimiter).csv(path).schema.names)
    # from_csv takes a DDL string; backticks in names are doubled
    ddl = ", ".join("`%s` STRING" % n.replace("`", "``") for n in names)
    line = F.regexp_replace(
        F.regexp_replace(F.col("value"), "^\ufeff", ""), "\r$", "")
    # the file's first line is row 0 of the scan's first partition (one
    # file: its splits are read in offset order), so id 0 is the header
    lines = (spark.read.text(path)
             .select(line.alias("__ms_line"),
                     F.monotonically_increasing_id().alias("__ms_pos"))
             .filter((F.col("__ms_pos") != 0) & (F.col("__ms_line") != "")))
    nf = F.size(F.split(
        F.regexp_replace("__ms_line", '"[^"]*"', ""),
        _re.escape(delimiter), -1))
    parsed = lines.select(
        F.from_csv("__ms_line", F.lit(ddl),
                   {"sep": delimiter, "nullValue": _NULL_SENTINEL,
                    "escape": '"'}).alias("__ms_rec"),
        nf.alias("__ms_nf"))
    cols = []
    for i, n in enumerate(names):
        v = F.col("__ms_rec").getField(n)
        cols.append(
            F.when(v.isNull() & (F.lit(i) < F.col("__ms_nf")), F.lit(""))
            .otherwise(v).alias(n))
    return parsed.select(*cols)


def import_delim(spark: SparkSession, path: str, delimiter: str | None = None,
                 string_fields: Sequence[str] = (),
                 field_types: Mapping[str, str] | None = None,
                 encoding: str = "UTF-8") -> DataFrame:
    """Reference empty-cell semantics (delim-import-test.js 'handle empty
    fields' / 'missing fields are filled out with nulls'): a PRESENT but
    empty cell imports as '' (promoted numeric columns then map '' to
    null), while a MISSING trailing field (row shorter than the header)
    imports as null. Spark's csv reader folds both through ``nullValue``,
    so the UTF-8 path parses lines JVM-side with ``from_csv`` plus a
    quote-aware per-line field count that tells the two cases apart."""
    if delimiter is None:
        delimiter = detect_delimiter(path, encoding)
    # unnamed / whitespace-named columns are ignored on import
    # (delim-import-test.js 'ignore unnamed columns')
    with open(path, "r", encoding=encoding, errors="replace") as fh:
        header = _re.split(r"[\n\r]", fh.read(65536), 1)[0]
    header = header.lstrip("\ufeff")
    blanks = [i for i, name in enumerate(header.split(delimiter))
              if not name.strip()]
    if encoding.lower().replace("-", "").replace("_", "") in ("utf8", "utf"):
        df = _read_delim_exact(spark, path, delimiter, header)
    else:
        # spark.read.text is UTF-8-only, so non-UTF8 files keep the plain
        # csv reader: quoted-empty survives as '' via the sentinel
        # nullValue; unquoted-empty still imports as null (documented
        # narrow deviation — DEVIATIONS.md CSV row)
        df = (spark.read
              .option("header", True)
              .option("delimiter", delimiter)
              .option("encoding", encoding)
              .option("nullValue", _NULL_SENTINEL)
              .option("escape", '"')  # RFC4180 "" escapes, like d3-dsv
              .csv(path))
    if blanks:
        keep = [c for i, c in enumerate(df.columns) if i not in blanks]
        df = df.select(*keep)
    # reference promotion rules (tryNumericField) over the all-string
    # import: commas stripped, ''/NA/NaN tolerated as null, whitespace
    # trimmed, hex accepted — never dates, never booleans
    df = _try_numeric_columns(
        df, skip=set(string_fields) |
        {f for f, t in (field_types or {}).items()
         if str(t).lower().startswith("s")})
    for f in string_fields:  # string-fields= override
        df = df.withColumn(f, F.col(f).cast("string"))
    for f, t in (field_types or {}).items():  # field-types= override
        tl = str(t).lower()
        target = "double" if tl.startswith("n") else \
            "string" if tl.startswith("s") else t
        # forced numeric conversion nulls unparseable values rather than
        # erroring (delim-import-test.js 'type hints force numeric
        # conversion': 'four' -> null)
        df = df.withColumn(f, F.col(f).try_cast(target))
    return df


def export_delim(df: DataFrame, path: str, delimiter: str = ",",
                 single_file: bool = True) -> None:
    """CSV/TSV export. ``single_file`` (the CLI's ``-o name.csv`` contract —
    the reference writes one file) collects driver-side and writes one file
    with one header, preserving row order; pass False for the distributed
    directory sink at scale (each part file would otherwise carry its own
    header, so a naive part-concatenation is wrong)."""
    if single_file:
        with open(path, "w", newline="") as f:
            f.write(delim_payload(df, delimiter))
        return
    (df.write.mode("overwrite").option("header", True)
     .option("delimiter", delimiter).csv(path))


def delim_payload(df: DataFrame, delimiter: str = ",") -> str:
    """Driver-side CSV/TSV text for a (fixture-scale) layer. Nulls render
    as EMPTY fields, unquoted — the reference writes nothing for null
    (mapshaper-delim-export.js formatDelimRow); both pandas.to_csv and the
    Spark csv writer quote them as '""'."""
    import math

    def _cell(v) -> str:
        if v is None or (isinstance(v, float) and math.isnan(v)):
            return ""
        if isinstance(v, (bool, np.bool_)):
            return "true" if v else "false"  # JS String(bool)
        if isinstance(v, float) and v.is_integer() and abs(v) < 1e16:
            # JS String(n) has no int/float split: 3.0 prints '3'
            s = str(int(v))
        else:
            s = str(v)
        if delimiter in s or '"' in s or "\n" in s or "\r" in s:
            s = '"' + s.replace('"', '""') + '"'
        return s

    pdf = df.toPandas()
    lines = [delimiter.join(str(c) for c in pdf.columns)]
    lines.extend(delimiter.join(_cell(v) for v in row)
                 for row in pdf.itertuples(index=False))
    # d3-dsv formatRows (the reference's serializer) emits NO trailing
    # newline (commands-test.js 'rename, convert csv')
    return "\n".join(lines)
