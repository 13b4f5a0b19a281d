"""InfluxDB line-protocol parser as a Spark source.

Format (reference parser ``lib/util/lifted/vm/protoparser/influx/parser.go``):

    measurement[,tag1=v1,tag2=v2] field1=fv1[,field2=fv2] [timestamp_ns]

Field values: float (``1.5``), integer (``5i``), unsigned (``5u``), string
(``"s"``), boolean (``t/T/true/f/F/false``).

Each request-sized batch is parsed once, on the driver (the reference
parses a ``/write`` body in ``ts-sql`` before it routes rows,
handler.go:1488), into a normalized long format ``(measurement, tags map,
field name, field value typed, time_ns)`` handed to Spark as a local
relation. Batch ingestion then pivots fields per measurement into the
catalog's wide table; escape handling covers the ``\\,`` ``\\ `` ``\\=``
cases.
"""

from __future__ import annotations

import re

import pyarrow as pa
from pyspark.sql import DataFrame, functions as F
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import (
    BooleanType,
    DoubleType,
    LongType,
    MapType,
    StringType,
    StructField,
    StructType,
)

LP_SCHEMA = StructType(
    [
        StructField("measurement", StringType()),
        StructField("tags", MapType(StringType(), StringType())),
        StructField("field", StringType()),
        StructField("f_float", DoubleType()),
        StructField("f_int", LongType()),
        StructField("f_str", StringType()),
        StructField("f_bool", BooleanType()),
        StructField("time_ns", LongType()),
        # ordinal of the source line within the write batch: duplicate
        # (series, time, field) values resolve to the LAST line, matching
        # the reference's point-merge (the newest point wins)
        StructField("line_no", LongType()),
        # tag-array point identity: rows expanded from tk=[v1,v2,…] keep
        # the ORIGINAL array key so they never merge with plain-tag points
        # of the same expanded series (TestServer_TagArray count=11 — the
        # array form is the stored series; expansion is logical)
        StructField("akey", StringType()),
    ]
)
_LP_ARROW_SCHEMA = to_arrow_schema(LP_SCHEMA)

_UNESCAPED_SPLIT = {
    ",": re.compile(r"(?<!\\),"),
    " ": re.compile(r"(?<!\\) "),
    "=": re.compile(r"(?<!\\)="),
}
# the measurement token ends at the first UNESCAPED comma or space
_MEASUREMENT_TOKEN = re.compile(r"^(?:\\.|[^,\\ ])*")


def _unescape(s: str) -> str:
    return s.replace("\\,", ",").replace("\\ ", " ").replace("\\=", "=")


def valid_measurement_name(name: str) -> bool:
    """ValidMeasurementName (meta/validator.go:30): non-empty, printable,
    none of ``, ; / \\`` and not "."/".."."""
    return not (
        not name
        or name in (".", "..")
        or any(c in name for c in ',;/\\')
        or not name.isprintable()
    )


def _split_sections(line: str) -> list[str]:
    """Split into [key, fields, ts?] on unescaped spaces outside quotes."""
    parts: list[str] = []
    buf: list[str] = []
    in_q = esc = False
    for ch in line:
        if esc:
            buf.append(ch)
            esc = False
            continue
        if ch == "\\":
            buf.append(ch)
            esc = True
            continue
        if ch == '"':
            in_q = not in_q
            buf.append(ch)
            continue
        if ch == " " and not in_q:
            parts.append("".join(buf))
            buf = []
            continue
        buf.append(ch)
    parts.append("".join(buf))
    return [p for p in parts if p]


def _split_fields(s: str) -> list[str]:
    """Split k=v pairs on unescaped commas outside quotes."""
    parts: list[str] = []
    buf: list[str] = []
    in_q = esc = False
    for ch in s:
        if esc:
            buf.append(ch)
            esc = False
            continue
        if ch == "\\":
            buf.append(ch)
            esc = True
            continue
        if ch == '"':
            in_q = not in_q
            buf.append(ch)
            continue
        if ch == "," and not in_q:
            parts.append("".join(buf))
            buf = []
            continue
        buf.append(ch)
    parts.append("".join(buf))
    return parts


def _unescape_string_field(s: str) -> str:
    """Influx string-field unescape: ``\\\\`` → ``\\`` and ``\\"`` → ``"``;
    a backslash before any other character stays literal
    (models/points.go unescapeStringField — Write_LineProtocol_String)."""
    out: list[str] = []
    i = 0
    while i < len(s):
        if s[i] == "\\" and i + 1 < len(s) and s[i + 1] in ('\\', '"'):
            out.append(s[i + 1])
            i += 2
        else:
            out.append(s[i])
            i += 1
    return "".join(out)


class InvalidFieldValueError(ValueError):
    """A line the line-protocol grammar rejects outright (a NaN/Inf float
    value, an invalid measurement name): the whole write request fails,
    unlike type-conflict partial drops."""


def parse_line(line: str, default_time_ns: int = 0) -> list[dict]:
    """Parse one line into normalized rows (one per field)."""
    line = line.strip()
    if not line or line.startswith("#"):
        return []
    # an invalid name rejects the WHOLE write (errno.InvalidMeasurement —
    # server_write_test.go TestServer_Write_InvalidMeasurement), checked
    # before any per-point problem could drop the line instead. Only
    # \\, \\space \\= are escapes: a literal backslash stays and is invalid
    name = _unescape(_MEASUREMENT_TOKEN.match(line).group(0))
    if not valid_measurement_name(name):
        raise InvalidFieldValueError(f"invalid measurement name: {name}")
    parts = _split_sections(line)
    if len(parts) < 2:
        raise ValueError(f"line protocol: missing fields in {line!r}")
    key, fields_raw = parts[0], parts[1]
    time_ns = int(parts[2]) if len(parts) > 2 else default_time_ns

    key_parts = _UNESCAPED_SPLIT[","].split(key)
    # re-join tag-array groups the comma split broke apart
    # (tk1=[tv2,tv3,…] — commas inside brackets are part of the value)
    merged: list[str] = []
    for p in key_parts:
        if merged and "[" in merged[-1] and "]" not in merged[-1]:
            merged[-1] += "," + p
        else:
            merged.append(p)
    key_parts = merged
    measurement = _unescape(key_parts[0])
    if not valid_measurement_name(measurement):
        # the tag-array regrouping widened the token (m[a,b] …): the
        # point is malformed and drops, the rest of the batch lands
        raise ValueError(f"invalid measurement name: {measurement}")
    tags = {}
    array_tags: dict[str, list[str]] = {}
    for t in key_parts[1:]:
        k, v = _UNESCAPED_SPLIT["="].split(t, 1)
        if v.startswith("[") and v.endswith("]"):
            # tag array (EnableTagArray): tk=[v1,v2,…] expands to one
            # point per value (TestServer_TagArray; lib/record tag-array
            # write path)
            array_tags[_unescape(k)] = [
                _unescape(x) for x in v[1:-1].split(",") if x
            ]
        else:
            uk = _unescape(k)
            if uk in tags:
                # duplicate tag key drops the point — partial write
                # (TestServer_Write_Compatible "duplicated tag")
                raise ValueError(f"duplicate tag {uk}")
            if uk == "time":
                # a tag named `time` is silently dropped, the point lands
                # (Write_TagKeyConflict — executed; Write_Compatible's
                # "not support time tag" error case is Go-skipped)
                continue
            tags[uk] = _unescape(v)
    if array_tags:
        import itertools

        rows: list[dict] = []
        keys = sorted(array_tags)
        for combo in itertools.product(*(array_tags[k] for k in keys)):
            expanded = dict(tags)
            expanded.update(zip(keys, combo))
            sub = ",".join(
                [measurement]
                + [f"{k}={v}" for k, v in expanded.items()]
            )
            for row in parse_line(
                " ".join([sub] + parts[1:]), default_time_ns
            ):
                row["akey"] = key
                rows.append(row)
        return rows

    # duplicate field keys within one line: the LAST occurrence wins
    # (`f1=0,f1=2` reads back 2 — server_test.go DuplicateField), but a
    # duplicate with a DIFFERENT value class drops the point
    # (Write_Compatible "partial write: conflict field type"); a field
    # named `time` is reserved and silently dropped ("duplicated time")
    by_field: dict[str, dict] = {}
    for fv in _split_fields(fields_raw):
        k, v = _UNESCAPED_SPLIT["="].split(fv, 1)
        fname = _unescape(k)
        if fname == "time":
            continue
        row = {
            "measurement": measurement, "tags": tags, "field": fname,
            "f_float": None, "f_int": None, "f_str": None, "f_bool": None,
            "time_ns": time_ns, "akey": None,
        }
        if v.startswith('"') and v.endswith('"'):
            row["f_str"] = _unescape_string_field(v[1:-1])
        elif v in ("t", "T", "true", "True", "TRUE"):
            row["f_bool"] = True
        elif v in ("f", "F", "false", "False", "FALSE"):
            row["f_bool"] = False
        elif v.endswith(("i", "u")):
            row["f_int"] = int(v[:-1])
        else:
            x = float(v)
            if x != x or x in (float("inf"), float("-inf")):
                # NaN/Inf field values reject the WHOLE write request —
                # not a partial drop (models/points.go parseNumber;
                # Write_LineProtocol_Partial: nothing from the batch
                # lands, the request errors "invalid field value")
                raise InvalidFieldValueError("invalid field value")
            row["f_float"] = x
        prev = by_field.get(fname)
        if prev is not None:
            cls = [c for c in ("f_str", "f_bool", "f_int", "f_float")
                   if row[c] is not None]
            prev_cls = [c for c in ("f_str", "f_bool", "f_int", "f_float")
                        if prev[c] is not None]
            if cls != prev_cls:
                raise ValueError(
                    f"partial write: conflict field type: {fname} dropped=1"
                )
        by_field[fname] = row
    return list(by_field.values())


def parse_line_protocol(
    spark, lines: list[str], default_time_ns: int = 0,
) -> DataFrame:
    """Parse an in-memory batch of lines on the driver into ``LP_SCHEMA``
    rows, handed to Spark as one Arrow local relation: no Spark job and no
    Python worker. ``line_no`` is the line's index in ``lines``.

    A bad point (duplicate tag, intra-line type conflict) is dropped and
    the rest of the batch lands (handler.go partial-write response); an
    ``InvalidFieldValueError`` (NaN/Inf value, invalid measurement name)
    rejects the whole batch.

    ``default_time_ns`` stamps points written without a timestamp — the
    reference server uses its own now() (models.ParsePointsWithPrecision;
    MultiMeasurementsInDifferentRp relies on the stamp landing *after*
    the query's upper time bound).
    """
    out: list[dict] = []
    for no, line in enumerate(lines):
        try:
            rows = parse_line(line, default_time_ns)
        except InvalidFieldValueError:
            raise
        except ValueError:
            continue
        for row in rows:
            row["line_no"] = no
            out.append(row)
    # an Arrow table, not pandas: a pandas int column holding None turns
    # float64 and loses int64 precision; the table is a LocalRelation
    # whatever the session's Arrow setting, empty batches included
    return spark.createDataFrame(
        pa.Table.from_pylist(out, schema=_LP_ARROW_SCHEMA), LP_SCHEMA
    )


def to_measurement_table(
    parsed: DataFrame, measurement: str,
    field_types: dict[str, str] | None = None,
) -> DataFrame:
    """Pivot normalized rows into the wide per-measurement table
    (schema-on-write: one TYPED column per field, tags as string columns).

    Field types follow the line-protocol value class (handler.go:1488 →
    models.Point field types): float stays double, int stays int64, string
    and boolean keep their own columns — not silently dropped. The
    (field → type, tag keys) schema comes from plain Python over the
    measurement's rows: on the posted batch's local relation that collect
    runs no Spark job — the schema-on-write metadata lookup, not a data
    scan.

    A field's type is decided by its FIRST point (or the already-registered
    ``field_types`` from the measurement sidecar, Spark simpleString form);
    a point carrying a CONFLICTING value class for any field is dropped
    whole — the reference's partial write
    (TestServer_Write_FieldTypeConflict: int64 `value` rejects the float
    point but keeps the rest of the batch).
    """
    m = parsed.filter(F.col("measurement") == measurement)
    cls_expr = (
        F.when(F.col("f_str").isNotNull(), "str")
        .when(F.col("f_bool").isNotNull(), "bool")
        .when(F.col("f_int").isNotNull(), "int")
        .when(F.col("f_float").isNotNull(), "float")
    )
    m = m.withColumn("__cls", cls_expr)
    # per-field first-point (line_no, class) + the union of tag keys
    first: dict[str, tuple[int, str]] = {}
    tag_set: set[str] = set()
    for field, cls, no, ks in m.select(
        "field", "__cls", "line_no", F.map_keys("tags")
    ).collect():
        tag_set.update(ks)
        if field not in first or no < first[field][0]:
            first[field] = (no, cls)
    tag_keys = sorted(tag_set)
    _SPARK_CLS = {
        "bigint": "int", "double": "float", "string": "str",
        "boolean": "bool",
    }
    decided = {
        f: _SPARK_CLS.get((field_types or {}).get(f, ""), cls)
        for f, (_, cls) in sorted(first.items())
    }
    # drop conflicting FIELD occurrences (the point survives if any of
    # its other fields are clean — Write_MultiField_FieldTypeConflict
    # keeps collectTime/cpu/… when cmd=0i conflicts; a point whose only
    # field conflicts vanishes entirely, Write_FieldTypeConflict)
    conds = None
    for name, cls in decided.items():
        c = (F.col("field") == name) & (F.col("__cls") != cls)
        conds = c if conds is None else (conds | c)
    if conds is not None:
        m = m.filter(~conds)

    def _field_expr(name: str, cls: str) -> F.Column:
        if cls == "str":
            src = F.col("f_str")
        elif cls == "bool":
            src = F.col("f_bool")
        elif cls == "float":
            src = F.coalesce(F.col("f_float"), F.col("f_int").cast("double"))
        else:
            src = F.col("f_int")
        # LAST matching line wins (point merge: the newest duplicate
        # within a batch replaces earlier ones — server_test.go Join_Table
        # writes table2,tk=c twice at one instant and reads the second)
        cond = F.col("field") == name
        return F.max_by(
            F.when(cond, src),
            F.when(cond & src.isNotNull(), F.col("line_no")),
        ).alias(name)

    field_exprs = [_field_expr(n, c) for n, c in decided.items()]
    # tag-array rows group by their ORIGINAL array key as well: a point
    # expanded from tk=[…,tv9,…] must not merge with a plain tk=tv9 point
    # at the same instant (TestServer_TagArray — the array form is the
    # stored series identity; expansion is logical)
    wide = m.groupBy("time_ns", "tags", "akey").agg(
        *field_exprs,
        # first-written line per point: merged-stream operators resolve
        # duplicate TIMESTAMPS across different series to the first write
        # (server_test.go difference_derivative_time_duplicate); storage
        # rebases this onto the batch sequence stamp
        F.min("line_no").alias("__ln"),
    )
    out = wide.select(
        "time_ns",
        *[F.col("tags").getItem(k).alias(k) for k in tag_keys],
        # backtick: field names may contain '.' (not a struct path)
        *[
            F.col(f"`{c}`")
            for c in wide.columns
            if c not in ("time_ns", "tags", "__ln", "akey")
        ],
        "__ln",
        F.col("akey").alias("__akey"),
    )
    # tag/field distinction survives the pivot (the reference's CleanSchema,
    # meta/measurement.go:244); storage persists it as a sidecar so query
    # paths can tell a string FIELD from a tag (wildcard expansion needs it)
    out._og_tag_cols = tag_keys
    return out
