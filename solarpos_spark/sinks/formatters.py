"""Byte-parity output formatters (K1 CSV / K2 JSON Lines).

Reproduces the reference's serialization contract exactly
(formatter/CsvFormatter.java, JsonFormatter.java, SerializerRegistry.java):

* CSV: ',' delimiter, CRLF rows, header on by default, RFC-4180 quoting,
  doubles via Locale.US %.Nf (HALF_UP — Spark's format_string is the same
  JVM String.format), null -> empty, timestamps yyyy-MM-dd'T'HH:mm:ssXXX.
* JSON Lines: LF rows, doubles %.6f by default, timestamps quoted ISO,
  null -> null, key order = field order.
* Per-field precision table from PositionCommand.java:149-179 /
  SunriseCommand.java:105-160: lat/lon 5, elevation/pressure/temperature/
  deltaT 3, azimuth/zenith/elevation-angle 5.

All formatting is JVM-side expression code (format_string / date_format /
concat), so these formatters run at full scale on executors and work
identically for batch writes and streaming sinks.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


@dataclass(frozen=True)
class FieldSpec:
    name: str
    kind: str  # 'double' | 'ts' | 'string' | 'int'
    precision: int = 6

    def col(self) -> Column:
        return F.col(f"`{self.name}`")


#: PositionCommand.java:149-179 precision hints.
POSITION_FIELDS = [
    FieldSpec("latitude", "double", 5),
    FieldSpec("longitude", "double", 5),
    FieldSpec("elevation", "double", 3),
    FieldSpec("pressure", "double", 3),
    FieldSpec("temperature", "double", 3),
    FieldSpec("dateTime", "ts"),
    FieldSpec("deltaT", "double", 3),
    FieldSpec("azimuth", "double", 5),
    FieldSpec("zenith", "double", 5),
    FieldSpec("elevation-angle", "double", 5),
]

#: SunriseCommand.java:105-160; twilight events in the reference's
#: chronological output order (getFieldNames, SunriseCommand.java:143-155).
SUNRISE_FIELDS = [
    FieldSpec("latitude", "double", 5),
    FieldSpec("longitude", "double", 5),
    FieldSpec("dateTime", "ts"),
    FieldSpec("deltaT", "double", 3),
    FieldSpec("type", "string"),
    FieldSpec("astronomical_start", "ts"),
    FieldSpec("nautical_start", "ts"),
    FieldSpec("civil_start", "ts"),
    FieldSpec("sunrise", "ts"),
    FieldSpec("transit", "ts"),
    FieldSpec("sunset", "ts"),
    FieldSpec("civil_end", "ts"),
    FieldSpec("nautical_end", "ts"),
    FieldSpec("astronomical_end", "ts"),
]


def _offset_str(offset_sec: Column) -> Column:
    """Zone-offset suffix: 'Z' for 0, else ±HH:MM (java appendOffsetId)."""
    total = F.abs(offset_sec)
    hh = F.lpad((total / 3600).cast("int").cast("string"), 2, "0")
    mm = F.lpad(((total % 3600) / 60).cast("int").cast("string"), 2, "0")
    sign = F.when(offset_sec < 0, F.lit("-")).otherwise(F.lit("+"))
    return F.when(offset_sec == 0, F.lit("Z")).otherwise(
        F.concat(sign, hh, F.lit(":"), mm)
    )


def format_timestamp(ts: Column, offset_sec: Column | None = None) -> Column:
    """yyyy-MM-dd'T'HH:mm:ssXXX rendered in the record's own zone offset
    (the reference keeps the input zone in output, TimeFormats.java:65-71).
    NULL-safe: null ts -> null (caller maps to '' or 'null')."""
    off = offset_sec if offset_sec is not None else F.lit(0)
    local = F.timestamp_seconds(F.unix_timestamp(ts) + off.cast("long"))
    return F.when(
        ts.isNull(), F.lit(None).cast("string")
    ).otherwise(F.concat(F.date_format(local, "yyyy-MM-dd'T'HH:mm:ss"),
                         _offset_str(off.cast("long"))))


def _serialize(spec: FieldSpec, offset_col: Column | None) -> Column:
    c = spec.col()
    if spec.kind == "double":
        return F.when(c.isNull(), F.lit(None).cast("string")).otherwise(
            F.format_string(f"%.{spec.precision}f", c)
        )
    if spec.kind == "ts":
        return format_timestamp(c, offset_col)
    if spec.kind == "int":
        return c.cast("string")
    return c.cast("string")


def _csv_escape(c: Column) -> Column:
    needs = c.rlike('[",\r\n]')
    return F.when(c.isNull(), F.lit("")).otherwise(
        F.when(needs, F.concat(F.lit('"'),
                               F.regexp_replace(c, '"', '""'), F.lit('"')))
        .otherwise(c)
    )


def select_fields(all_fields: list[FieldSpec], df: DataFrame,
                  subset: list[str] | None = None) -> list[FieldSpec]:
    present = set(df.columns)
    fields = [f for f in all_fields if f.name in present]
    if subset is not None:
        by_name = {f.name: f for f in fields}
        fields = [by_name[n] for n in subset if n in by_name]
    return fields


def csv_header(fields: list[FieldSpec]) -> str:
    return ",".join(f.name for f in fields)


def csv_lines(df: DataFrame, all_fields: list[FieldSpec],
              subset: list[str] | None = None,
              offset_col: str | None = None) -> DataFrame:
    """One 'line' string column per row (no trailing separator — the writer
    appends CRLF, CsvFormatter.java:16)."""
    fields = select_fields(all_fields, df, subset)
    off = F.col(offset_col) if offset_col and offset_col in df.columns else None
    parts: list[Column] = []
    for i, spec in enumerate(fields):
        if i:
            parts.append(F.lit(","))
        parts.append(_csv_escape(_serialize(spec, off)))
    return df.select(F.concat(*parts).alias("line"))


def _json_escape(c: Column) -> Column:
    s = F.regexp_replace(c, r"\\", r"\\\\")
    s = F.regexp_replace(s, '"', '\\\\"')
    s = F.regexp_replace(s, "\n", "\\\\n")
    s = F.regexp_replace(s, "\r", "\\\\r")
    s = F.regexp_replace(s, "\t", "\\\\t")
    return s


def json_lines(df: DataFrame, all_fields: list[FieldSpec],
               subset: list[str] | None = None,
               offset_col: str | None = None) -> DataFrame:
    """JSON-Lines objects with exact decimal formatting and field order
    (JsonFormatter.java:10-93): doubles %.6f default, null -> null, quoted
    ISO timestamps, LF separator (writer-side)."""
    fields = select_fields(all_fields, df, subset)
    off = F.col(offset_col) if offset_col and offset_col in df.columns else None
    parts: list[Column] = [F.lit("{")]
    for i, spec in enumerate(fields):
        if i:
            parts.append(F.lit(","))
        parts.append(F.lit(f'"{spec.name}":'))
        # per-field precision hints apply in every format; forJson's
        # 6-decimal default only covers fields without hints
        raw = _serialize(spec, off)
        if spec.kind in ("double", "int"):
            parts.append(F.coalesce(raw, F.lit("null")))
        else:
            parts.append(F.when(raw.isNull(), F.lit("null")).otherwise(
                F.concat(F.lit('"'), _json_escape(raw), F.lit('"'))))
    parts.append(F.lit("}"))
    return df.select(F.concat(*parts).alias("line"))


def to_csv_string(df: DataFrame, all_fields: list[FieldSpec],
                  *, headers: bool = True, subset: list[str] | None = None,
                  offset_col: str | None = None) -> str:
    """Driver-side exact CSV document (tests / small exports)."""
    fields = select_fields(all_fields, df, subset)
    rows = [r["line"] for r in
            csv_lines(df, all_fields, subset, offset_col).collect()]
    head = [csv_header(fields)] if headers else []
    return "".join(x + "\r\n" for x in head + rows)


def to_json_string(df: DataFrame, all_fields: list[FieldSpec],
                   *, subset: list[str] | None = None,
                   offset_col: str | None = None) -> str:
    rows = [r["line"] for r in
            json_lines(df, all_fields, subset, offset_col).collect()]
    return "".join(x + "\n" for x in rows)


# --- K3 human text formatter (SimpleTextFormatter.java) --------------------

#: display-name overrides + units (FieldDescriptor hints, PositionCommand
#: createFields / SunriseCommand; names per humanFormatOutput goldens).
HUMAN_NAMES = {"dateTime": "date/time", "deltaT": "delta T"}
HUMAN_UNITS = {
    "latitude": "°", "longitude": "°", "elevation": " m",
    "pressure": " hPa", "temperature": " °C", "deltaT": " s",
    "azimuth": "°", "zenith": "°", "elevation-angle": "°",
}
HUMAN_TYPE_NAMES = {"NORMAL": "normal", "ALL_DAY": "all day",
                    "ALL_NIGHT": "all night"}

#: SerializerRegistry.createFloatFormatterWithUnits: String.format("%28s%s",
#: value, unit) — the value is right-aligned in a 28-char field.
HUMAN_UNIT_PAD = 28


def human_blocks(df: DataFrame, all_fields: list[FieldSpec],
                 subset: list[str] | None = None,
                 offset_col: str | None = None) -> DataFrame:
    """``name: value`` text blocks, blank line between records
    (SimpleTextFormatter.java:10-88): labels left-justified to the longest
    display name ("%-Ns: "), unit-bearing numerics right-aligned in a
    28-char field with the unit appended (SerializerRegistry.java:47-57),
    timestamps in the reduced human pattern (space instead of 'T',
    TimeFormats.ISO_HUMAN_LOCAL_DATE_TIME_REDUCED), null -> 'none',
    sunrise types in lowercase human words."""
    fields = select_fields(all_fields, df, subset)
    off = F.col(offset_col) if offset_col and offset_col in df.columns else None
    width = max(len(HUMAN_NAMES.get(f.name, f.name)) for f in fields)
    parts: list[Column] = []
    for i, spec in enumerate(fields):
        if i:
            parts.append(F.lit("\n"))
        label = HUMAN_NAMES.get(spec.name, spec.name).ljust(width)
        raw = _serialize(spec, off)
        if spec.kind == "ts":
            # human pattern: 'yyyy-MM-dd HH:mm:ssXXX' — one 'T' to replace
            raw = F.regexp_replace(raw, "T", " ")
        if spec.name == "type":
            for k, v in HUMAN_TYPE_NAMES.items():
                raw = F.when(raw == k, F.lit(v)).otherwise(raw)
        unit = HUMAN_UNITS.get(spec.name)
        if unit is not None and spec.kind == "double":
            val_present = F.concat(F.lpad(raw, HUMAN_UNIT_PAD, " "),
                                   F.lit(unit))
        else:
            val_present = raw
        val = F.when(raw.isNull(), F.lit("none")).otherwise(val_present)
        parts.append(F.concat(F.lit(f"{label}: "), val))
    return df.select(F.concat(*parts).alias("block"))
