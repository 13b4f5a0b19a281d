"""InfluxDB line-protocol parser and per-measurement pivot.

Format (reference parser ``lib/util/lifted/vm/protoparser/influx/parser.go``):

    measurement[,tag1=v1,tag2=v2] field1=fv1[,field2=fv2] [timestamp_ns]

Field values: float (``1.5``), integer (``5i``), unsigned (``5u``), string
(``"s"``), boolean (``t/T/true/f/F/false``).

Each request-sized batch is parsed once, on the driver (the reference
parses a ``/write`` body in ``ts-sql`` before it routes rows,
handler.go:1488), into a normalized long Arrow table ``(measurement, tags
map, field name, field value typed, time_ns)``. Batch ingestion then
pivots fields per measurement into the catalog's wide table, also on the
driver, and hands Spark one local relation per measurement; escape
handling covers the ``\\,`` ``\\ `` ``\\=`` cases.
"""

from __future__ import annotations

import re

import pyarrow as pa
import pyarrow.compute as pc

LP_SCHEMA = pa.schema([
    ("measurement", pa.string()),
    ("tags", pa.map_(pa.string(), pa.string())),
    ("field", pa.string()),
    ("f_float", pa.float64()),
    ("f_int", pa.int64()),
    ("f_str", pa.string()),
    ("f_bool", pa.bool_()),
    ("time_ns", pa.int64()),
    # ordinal of the source line within the write batch: duplicate
    # (series, time, field) values resolve to the LAST line, matching
    # the reference's point-merge (the newest point wins)
    ("line_no", pa.int64()),
    # tag-array point identity: rows expanded from tk=[v1,v2,…] keep
    # the ORIGINAL array key so they never merge with plain-tag points
    # of the same expanded series (TestServer_TagArray count=11 — the
    # array form is the stored series; expansion is logical)
    ("akey", pa.string()),
])

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
    lines: list[str], default_time_ns: int = 0,
) -> pa.Table:
    """Parse an in-memory batch of lines on the driver into one long
    ``LP_SCHEMA`` Arrow table, one row per field value: no Spark job and no
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
    # float64 and loses int64 precision
    return pa.Table.from_pylist(out, schema=LP_SCHEMA)


# value class of a field occurrence: the one typed column it fills, in the
# order the parser tries them; its Arrow type in the wide table; the class
# of a field type registered in the measurement sidecar (Spark simpleString)
_VALUE_COLS = ("f_str", "f_bool", "f_int", "f_float")
_ARROW_TYPES = {
    "f_str": pa.string(), "f_bool": pa.bool_(), "f_int": pa.int64(),
    "f_float": pa.float64(),
}
_REGISTERED = {
    "string": "f_str", "boolean": "f_bool", "bigint": "f_int",
    "double": "f_float",
}


def to_measurement_table(
    parsed: pa.Table, measurement: str,
    field_types: dict[str, str] | None = None,
) -> tuple[pa.Table, list[str]]:
    """Pivot one measurement's rows of a parsed batch into its wide table
    (schema-on-write: one TYPED column per field, tags as string columns),
    on the driver. Returns ``(table, tag keys)``.

    Columns: ``time_ns``, the sorted union of the rows' tag keys, the
    fields by name, ``__ln`` and ``__akey``. One row per point: (time,
    tag set, tag-array key).

    Field types follow the line-protocol value class (handler.go:1488 →
    models.Point field types): float stays double, int stays int64, string
    and boolean keep their own columns — not silently dropped.

    A field's type is decided by its FIRST point (or the already-registered
    ``field_types`` from the measurement sidecar, Spark simpleString form);
    a field occurrence of a CONFLICTING value class (an int beside a float
    too) is dropped — the reference's partial write
    (TestServer_Write_FieldTypeConflict: int64 `value` rejects the float
    point but keeps the rest of the batch).
    """
    m = parsed.filter(pc.equal(parsed["measurement"], measurement))
    cols = m.to_pydict()
    classes = [
        next(c for c in _VALUE_COLS if cols[c][i] is not None)
        for i in range(m.num_rows)
    ]
    # per-field first-point (line_no, class) + the union of tag keys
    first: dict[str, tuple[int, str]] = {}
    tag_set: set[str] = set()
    for field, cls, no, tags in zip(
        cols["field"], classes, cols["line_no"], cols["tags"]
    ):
        tag_set.update(k for k, _ in tags)
        if field not in first or no < first[field][0]:
            first[field] = (no, cls)
    registered = field_types or {}
    decided = {
        f: _REGISTERED.get(registered.get(f, ""), cls)
        for f, (_, cls) in sorted(first.items())
    }
    # point -> [first-written line, tags, {field: (line, value)}]
    points: dict[tuple, list] = {}
    for i, (field, cls, no) in enumerate(
        zip(cols["field"], classes, cols["line_no"])
    ):
        if cls != decided[field]:
            # drop the conflicting FIELD occurrence (the point survives if
            # any of its other fields are clean —
            # Write_MultiField_FieldTypeConflict keeps collectTime/cpu/…
            # when cmd=0i conflicts; a point whose only field conflicts
            # vanishes entirely, Write_FieldTypeConflict)
            continue
        tags = cols["tags"][i]
        # tag-array rows key by their ORIGINAL array key as well: a point
        # expanded from tk=[…,tv9,…] must not merge with a plain tk=tv9
        # point at the same instant (TestServer_TagArray — the array form
        # is the stored series identity; expansion is logical)
        key = (cols["time_ns"][i], tuple(sorted(tags)), cols["akey"][i])
        p = points.get(key)
        if p is None:
            p = points[key] = [no, dict(tags), {}]
        # first-written line per point: merged-stream operators resolve
        # duplicate TIMESTAMPS across different series to the first write
        # (server_test.go difference_derivative_time_duplicate); storage
        # rebases this onto the batch sequence stamp
        p[0] = min(p[0], no)
        # LAST matching line wins (point merge: the newest duplicate
        # within a batch replaces earlier ones — server_test.go Join_Table
        # writes table2,tk=c twice at one instant and reads the second)
        prev = p[2].get(field)
        if prev is None or no > prev[0]:
            p[2][field] = (no, cols[cls][i])
    tag_keys = sorted(tag_set)
    names = ["time_ns", *tag_keys, *decided, "__ln", "__akey"]
    arrays = [
        pa.array([k[0] for k in points], pa.int64()),
        *[
            pa.array([p[1].get(t) for p in points.values()], pa.string())
            for t in tag_keys
        ],
        *[
            pa.array(
                [p[2].get(f, (0, None))[1] for p in points.values()],
                _ARROW_TYPES[cls],
            )
            for f, cls in decided.items()
        ],
        pa.array([p[0] for p in points.values()], pa.int64()),
        pa.array([k[2] for k in points], pa.string()),
    ]
    # tag/field distinction survives the pivot (the reference's CleanSchema,
    # meta/measurement.go:244); storage persists it as a sidecar so query
    # paths can tell a string FIELD from a tag (wildcard expansion needs it)
    return pa.Table.from_arrays(arrays, names=names), tag_keys
