"""Parquet footer reader — pure stdlib, from the public Apache
Parquet format specification (parquet-format: Thrift compact protocol
+ parquet.thrift FileMetaData).

Why it exists: at 100 TB the footer IS the query planner's input —
row-group sizes decide split counts, column statistics decide
row-group pruning, encodings/codecs decide scan cost. An engine
should be able to AUDIT that physical layout (are stats present? are
row groups sized for the cluster? is anything uncompressed?) without
decompressing a single data page. This module walks the footer bytes
directly; ``dq_parquet_footer_stats`` (queries_text.py) then binds the
decoded statistics to the DATA itself — the oracle recomputes
min/max/count from the rows, so a misparsed varint or a wrong stats
offset breaks the hash. tests/test_parquet_footer.py additionally
cross-checks the full walk against TWO foreign readers of the same
bytes: DuckDB's ``parquet_metadata()`` and pyarrow's metadata object.

Implemented subset (everything FileMetaData needs):
- Thrift compact protocol: field headers with id deltas, zigzag
  varints (i16/i32/i64), binary/string, bool-in-nibble, list/set
  headers, nested structs, map headers (skipped generically), double;
- footer framing: trailing ``PAR1`` magic + 4-byte LE footer length;
- FileMetaData → schema elements, row groups → column chunks →
  ColumnMetaData (type, encodings, path, codec, value counts, sizes,
  page offsets, Statistics incl. typed min/max decoding).

No data pages are read, so codecs never matter here (SNAPPY/ZSTD
chunks audit the same as uncompressed ones).

Round 11 adds the PAGE INDEX (``read_page_index`` /
``page_prune_ranges``): ColumnIndex/OffsetIndex structs walked from
the file positions the ColumnChunk advertises, with page-level
min/max pruning replayed and two-side verified — the scan-pruning
lever below row-group stats (``dq_parquet_page_index_stats``).
"""

from __future__ import annotations

import io
import struct
import sys

from pyspark import cloudpickle

# Runs in Spark's Python workers, which cannot import this package:
# pickled by value, like operators/hnsw.py.
cloudpickle.register_pickle_by_value(sys.modules[__name__])

MAGIC = b"PAR1"

# thrift compact type nibbles
_STOP, _TRUE, _FALSE, _BYTE, _I16, _I32, _I64, _DOUBLE, _BINARY = range(9)
_LIST, _SET, _MAP, _STRUCT = 9, 10, 11, 12

PHYSICAL_TYPES = (
    "BOOLEAN",
    "INT32",
    "INT64",
    "INT96",
    "FLOAT",
    "DOUBLE",
    "BYTE_ARRAY",
    "FIXED_LEN_BYTE_ARRAY",
)
CODECS = (
    "UNCOMPRESSED",
    "SNAPPY",
    "GZIP",
    "LZO",
    "BROTLI",
    "LZ4",
    "ZSTD",
    "LZ4_RAW",
)
ENCODINGS = {
    0: "PLAIN",
    2: "PLAIN_DICTIONARY",
    3: "RLE",
    4: "BIT_PACKED",
    5: "DELTA_BINARY_PACKED",
    6: "DELTA_LENGTH_BYTE_ARRAY",
    7: "DELTA_BYTE_ARRAY",
    8: "RLE_DICTIONARY",
    9: "BYTE_STREAM_SPLIT",
}


def _read_uvarint(buf: io.BytesIO) -> int:
    shift = u = 0
    while True:
        raw = buf.read(1)
        if not raw:
            raise EOFError("varint truncated")
        b = raw[0]
        u |= (b & 0x7F) << shift
        if not b & 0x80:
            return u
        shift += 7
        if shift > 70:
            raise ValueError("varint too long")


def _zigzag(u: int) -> int:
    return (u >> 1) ^ -(u & 1)


def _read_byte(buf: io.BytesIO) -> int:
    b = buf.read(1)
    if not b:
        raise EOFError("thrift value truncated")
    return b[0]


def _read_value(buf: io.BytesIO, ftype: int):
    if ftype in (_TRUE, _FALSE):
        return ftype == _TRUE
    if ftype == _BYTE:
        return struct.unpack("b", buf.read(1))[0]
    if ftype in (_I16, _I32, _I64):
        return _zigzag(_read_uvarint(buf))
    if ftype == _DOUBLE:
        return struct.unpack("<d", buf.read(8))[0]
    if ftype == _BINARY:
        n = _read_uvarint(buf)
        return buf.read(n)
    if ftype in (_LIST, _SET):
        head = _read_byte(buf)
        size = head >> 4
        etype = head & 0x0F
        if size == 15:
            size = _read_uvarint(buf)
        if etype in (_TRUE, _FALSE):  # bools in lists are one byte each
            return [_read_byte(buf) == 1 for _ in range(size)]
        return [_read_value(buf, etype) for _ in range(size)]
    if ftype == _MAP:
        size = _read_uvarint(buf)
        if size == 0:
            return {}
        kv = _read_byte(buf)
        ktype, vtype = kv >> 4, kv & 0x0F

        def _elem(etype):
            # bools inside maps are one byte per element, exactly like
            # the list/set path above — the zero-byte header-nibble
            # encoding applies only to struct FIELDS; treating map
            # elements that way desyncs the stream for any map<_,bool>
            if etype in (_TRUE, _FALSE):
                return _read_byte(buf) == 1
            return _read_value(buf, etype)

        out = {}
        for _ in range(size):
            k = _elem(ktype)
            out[k] = _elem(vtype)
        return out
    if ftype == _STRUCT:
        return _read_struct(buf)
    raise ValueError(f"unknown thrift compact type {ftype}")


def _read_struct(buf: io.BytesIO) -> dict[int, object]:
    """Generic compact-protocol struct → {field_id: value}."""
    out: dict[int, object] = {}
    fid = 0
    while True:
        head = buf.read(1)
        if not head:
            raise EOFError("struct truncated")
        if head[0] == _STOP:
            return out
        delta = head[0] >> 4
        ftype = head[0] & 0x0F
        fid = fid + delta if delta else _zigzag(_read_uvarint(buf))
        out[fid] = _read_value(buf, ftype)


def _decode_stat(raw: bytes | None, physical: str):
    """Typed decode of a Statistics min_value/max_value payload
    (plain encoding per the spec)."""
    if raw is None:
        return None
    if physical == "INT32":
        return struct.unpack("<i", raw)[0]
    if physical == "INT64":
        return struct.unpack("<q", raw)[0]
    if physical == "FLOAT":
        return struct.unpack("<f", raw)[0]
    if physical == "DOUBLE":
        return struct.unpack("<d", raw)[0]
    if physical == "BOOLEAN":
        return raw[0] != 0
    if physical == "BYTE_ARRAY":
        return raw.decode("utf-8", errors="replace")
    return raw  # INT96 / fixed-len: opaque


def _read_raw_footer(path: str) -> dict:
    """The raw FileMetaData struct ({field_id: value}), shared by
    :func:`read_footer` and :func:`read_page_index` (which needs the
    ColumnChunk's index-location fields 4-7 that the interpreted shape
    drops)."""
    with open(path, "rb") as f:
        f.seek(0, 2)
        size = f.tell()
        if size < 12:
            raise ValueError(f"{path}: too small for a parquet file")
        f.seek(size - 8)
        tail = f.read(8)
        if tail[4:] != MAGIC:
            raise ValueError(f"{path}: missing PAR1 trailer")
        (meta_len,) = struct.unpack("<I", tail[:4])
        if meta_len > size - 8:
            raise ValueError(f"{path}: footer length {meta_len} exceeds file")
        f.seek(size - 8 - meta_len)
        raw = f.read(meta_len)
    return _read_struct(io.BytesIO(raw))


def read_footer(path: str) -> dict:
    """Parse one parquet file's FileMetaData. Returns::

        {version, num_rows, created_by, schema: [{name, type}...],
         row_groups: [{num_rows, total_byte_size,
                       columns: [{path, type, codec, encodings,
                                  num_values, total_compressed_size,
                                  total_uncompressed_size,
                                  data_page_offset,
                                  dictionary_page_offset,
                                  null_count, min, max}, ...]}, ...]}
    """
    fm = _read_raw_footer(path)
    try:
        return _interpret(fm)
    except (AttributeError, TypeError, KeyError, IndexError) as e:
        # a corrupt field-type nibble morphs a struct into an int (or a
        # list into a bool) and the shape-mapping below trips — surface
        # it as the designed rejection, not an accidental crash
        # (failure class pinned by tests/test_binary_reader_fuzz.py)
        raise ValueError(
            f"{path}: malformed FileMetaData ({type(e).__name__}: {e})"
        ) from e


def _interpret(fm: dict) -> dict:
    schema = [
        {
            "name": (se.get(4) or b"").decode(),
            "type": PHYSICAL_TYPES[se[1]] if 1 in se else None,
        }
        for se in fm.get(2, [])
    ]
    row_groups = []
    for rg in fm.get(4, []):
        cols = []
        for cc in rg.get(1, []):
            md = cc.get(3, {})
            physical = PHYSICAL_TYPES[md[1]]
            stats = md.get(12, {})
            # min_value/max_value (5/6) with legacy max/min (1/2) fallback
            raw_max = stats.get(5, stats.get(1))
            raw_min = stats.get(6, stats.get(2))
            cols.append(
                {
                    "path": ".".join(p.decode() for p in md.get(3, [])),
                    "type": physical,
                    "codec": CODECS[md[4]],
                    "encodings": sorted(
                        ENCODINGS.get(e, str(e)) for e in md.get(2, [])
                    ),
                    "num_values": md[5],
                    "total_uncompressed_size": md[6],
                    "total_compressed_size": md[7],
                    "data_page_offset": md.get(9),
                    "dictionary_page_offset": md.get(11),
                    "null_count": stats.get(3),
                    "min": _decode_stat(raw_min, physical),
                    "max": _decode_stat(raw_max, physical),
                }
            )
        row_groups.append(
            {
                "num_rows": rg.get(3),
                "total_byte_size": rg.get(2),
                "columns": cols,
            }
        )
    return {
        "version": fm.get(1),
        "num_rows": fm.get(3),
        "created_by": (fm.get(6) or b"").decode(errors="replace"),
        "schema": schema,
        "row_groups": row_groups,
    }


# Columns whose serialized values grow with the corpus (document text,
# JSON props): parquet writers OMIT or TRUNCATE chunk min/max once a
# value exceeds their stats size cap (parquet-mr ~4 KB), so the footer's
# string bounds for these stop being a recomputable function of the data
# at some scale factor. The audit therefore claims only num_values and
# the null count for them (always present in ColumnMetaData/Statistics
# regardless of the min/max cap) and reports an explicit stats_present
# flag instead of value bounds — a writer-side omission flips the flag
# detectably rather than silently diverging from the data-side oracle.
UNBOUNDED_WIDTH_COLS = frozenset({"documents.text", "events.props"})


# -- round 11: the PAGE index (ColumnIndex / OffsetIndex) ---------------

BOUNDARY_ORDERS = ("UNORDERED", "ASCENDING", "DESCENDING")


def read_page_index(path: str) -> list[list[dict]]:
    """Walk the PageIndex structures (parquet-format PageIndex.md) —
    the page-level pruning metadata that lives OUTSIDE the footer, at
    file positions the ColumnChunk advertises (column_index_offset/
    length fields 6/7, offset_index_offset/length fields 4/5):

    - **ColumnIndex** per column chunk: per-page ``null_pages`` /
      ``min_values`` / ``max_values`` (typed via the chunk's physical
      type) + ``boundary_order`` + optional ``null_counts``;
    - **OffsetIndex** per column chunk: ``page_locations`` rows of
      (offset, compressed_page_size, first_row_index) — the row
      coordinates that turn a pruned page into a skippable ROW RANGE.

    Returns one list per row group, one dict per column chunk:
    ``{path, type, num_rows, column_index|None, offset_index|None}``.
    This is the 100 TB scan-pruning lever below row-group stats: a
    predicate that row-group pruning cannot reject (the chunk's range
    covers it) still skips every PAGE whose bounds exclude it."""
    fm = _read_raw_footer(path)
    try:
        out = []
        for rg in fm.get(4, []):
            cols = []
            for cc in rg.get(1, []):
                md = cc.get(3, {})
                physical = PHYSICAL_TYPES[md[1]]
                entry: dict = {
                    "path": ".".join(p.decode() for p in md.get(3, [])),
                    "type": physical,
                    "num_rows": rg.get(3),
                    "column_index": None,
                    "offset_index": None,
                }
                ci_off, ci_len = cc.get(6), cc.get(7)
                if ci_off is not None and ci_len:
                    with open(path, "rb") as f:
                        f.seek(ci_off)
                        ci = _read_struct(io.BytesIO(f.read(ci_len)))
                    null_pages = [bool(b) for b in ci.get(1, [])]
                    entry["column_index"] = {
                        "null_pages": null_pages,
                        # a null page's min/max slots are UNDEFINED
                        # (writers emit empty byte arrays) — decode
                        # only the populated pages
                        "min_values": [
                            None if np_ else _decode_stat(v, physical)
                            for np_, v in zip(null_pages, ci.get(2, []))
                        ],
                        "max_values": [
                            None if np_ else _decode_stat(v, physical)
                            for np_, v in zip(null_pages, ci.get(3, []))
                        ],
                        "boundary_order": BOUNDARY_ORDERS[ci.get(4, 0)],
                        "null_counts": ci.get(5),
                    }
                oi_off, oi_len = cc.get(4), cc.get(5)
                if oi_off is not None and oi_len:
                    with open(path, "rb") as f:
                        f.seek(oi_off)
                        oi = _read_struct(io.BytesIO(f.read(oi_len)))
                    entry["offset_index"] = {
                        "page_locations": [
                            {
                                "offset": pl.get(1),
                                "compressed_page_size": pl.get(2),
                                "first_row_index": pl.get(3),
                            }
                            for pl in oi.get(1, [])
                        ]
                    }
                cols.append(entry)
            out.append(cols)
        return out
    except (AttributeError, TypeError, KeyError, IndexError, struct.error) as e:
        raise ValueError(
            f"{path}: malformed page index ({type(e).__name__}: {e})"
        ) from e


def page_prune_ranges(
    entry: dict, lo=None, hi=None
) -> dict:
    """Replay page-level min/max pruning for ``lo <= col <= hi``
    (either bound optional) over one column chunk's page index.
    Returns ``{total_pages, pruned_pages, pruned_ranges}`` where
    ``pruned_ranges`` are [start_row, end_row) ROW coordinates within
    the row group (from the OffsetIndex) that a conforming reader
    skips entirely. A null-only page is prunable for any non-null
    predicate; a page whose max < lo or min > hi cannot contain a
    match (truncated BYTE_ARRAY bounds stay conservative: the spec
    requires min_values <= values <= max_values, so this replay
    never over-prunes)."""
    ci, oi = entry["column_index"], entry["offset_index"]
    if ci is None or oi is None:
        raise ValueError(f"{entry['path']}: page index absent")
    locs = oi["page_locations"]
    n_pages = len(locs)
    num_rows = entry["num_rows"]
    pruned = []
    for i in range(n_pages):
        start = locs[i]["first_row_index"]
        end = locs[i + 1]["first_row_index"] if i + 1 < n_pages else num_rows
        if ci["null_pages"][i]:
            pruned.append((start, end))
            continue
        mn, mx = ci["min_values"][i], ci["max_values"][i]
        if (lo is not None and mx is not None and mx < lo) or (
            hi is not None and mn is not None and mn > hi
        ):
            pruned.append((start, end))
    return {
        "total_pages": n_pages,
        "pruned_pages": len(pruned),
        "pruned_ranges": pruned,
    }


def footer_column_stats(spark, sf_dir: str, tables=("events", "documents")):
    """``dq_parquet_footer_stats`` — per-column statistics read from
    the FOOTER BYTES ALONE (no data pages touched), aggregated across
    row groups and part files, typed per physical type. The oracle
    recomputes the same numbers from the rows, so the audit passes
    only if the footer's claims about the data are both correctly
    parsed and actually true — exactly what row-group pruning relies
    on at scale.

    Every row carries ``stats_present`` = "every chunk of this column
    published min AND max bounds"; for bounded-width columns the oracle
    asserts it TRUE, so a writer omitting stats breaks the hash on this
    explicit flag (with bounds already NULL on both sides for the
    unbounded-width columns — see ``UNBOUNDED_WIDTH_COLS``).

    Scale: one Spark task per parquet file (mapInPandas over the file
    list) — a 100 TB table with thousands of part files audits as a
    thousands-way parallel metadata scan, reading ~64 KiB per file.
    """
    import os

    import pandas as pd  # noqa: F401  (mapInPandas contract)
    from pyspark.sql import functions as F

    paths = []
    for t in tables:
        p = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.isdir(p):  # a directory of part files
            paths += [
                (t, os.path.join(p, f))
                for f in sorted(os.listdir(p))
                if f.endswith(".parquet")
            ]
        else:
            paths.append((t, p))
    files = spark.createDataFrame(paths, "tbl string, path string").repartition(
        max(len(paths), 1)
    )

    def parse(iterator):
        import pandas as pd

        cols = [
            "col_name",
            "num_values",
            "n_nulls",
            "chunk_has_bounds",
            "min_int",
            "max_int",
            "min_dbl",
            "max_dbl",
            "min_str",
            "max_str",
        ]
        for pdf in iterator:
            rows = []
            for tbl, path in zip(pdf["tbl"], pdf["path"]):
                fm = read_footer(path)
                for rg in fm["row_groups"]:
                    for c in rg["columns"]:
                        name = f"{tbl}.{c['path']}"
                        has_bounds = (
                            c["min"] is not None and c["max"] is not None
                        )
                        r = {
                            "col_name": name,
                            "num_values": c["num_values"],
                            "n_nulls": c["null_count"],
                            "chunk_has_bounds": has_bounds,
                            "min_int": None,
                            "max_int": None,
                            "min_dbl": None,
                            "max_dbl": None,
                            "min_str": None,
                            "max_str": None,
                        }
                        if name in UNBOUNDED_WIDTH_COLS:
                            pass  # bounds not claimed (cap-dependent)
                        elif c["type"] in ("INT32", "INT64"):
                            r["min_int"], r["max_int"] = c["min"], c["max"]
                        elif c["type"] in ("FLOAT", "DOUBLE"):
                            r["min_dbl"], r["max_dbl"] = c["min"], c["max"]
                        elif c["type"] == "BYTE_ARRAY":
                            r["min_str"], r["max_str"] = c["min"], c["max"]
                        rows.append(r)
            yield pd.DataFrame(rows, columns=cols)

    schema = (
        "col_name string, num_values bigint, n_nulls bigint, "
        "chunk_has_bounds boolean, "
        "min_int bigint, max_int bigint, min_dbl double, max_dbl double, "
        "min_str string, max_str string"
    )
    chunks = files.mapInPandas(parse, schema=schema)
    return (
        chunks.groupBy("col_name")
        .agg(
            F.sum("num_values").cast("bigint").alias("num_values"),
            F.sum("n_nulls").cast("bigint").alias("n_nulls"),
            # NULL (unknowable claim) for unbounded-width columns, else
            # "every chunk published both bounds" — the oracle pins TRUE
            F.when(
                F.col("col_name").isin(*sorted(UNBOUNDED_WIDTH_COLS)),
                F.lit(None).cast("boolean"),
            )
            .otherwise(F.every("chunk_has_bounds"))
            .alias("stats_present"),
            F.min("min_int").alias("min_int"),
            F.max("max_int").alias("max_int"),
            # + 0.0 canonicalizes IEEE signed zero: the spec tells
            # writers to store -0.0 as a double column's min bound,
            # while the data-side oracle computes +0.0 (seen live at
            # sf0.1); the two compare equal but hash differently
            (F.min("min_dbl") + F.lit(0.0)).alias("min_dbl"),
            (F.max("max_dbl") + F.lit(0.0)).alias("max_dbl"),
            F.min("min_str").alias("min_str"),
            F.max("max_str").alias("max_str"),
        )
        .orderBy("col_name")
    )


def _stat_select(tbl: str, col: str, kind: str) -> str:
    """One UNION ALL branch of the footer-stats oracle: recompute a
    column's footer claims from the data. kind: int | dbl | str | ts
    (ts = INT64 epoch-micros physical) | wide (unbounded-width string —
    bounds and presence flag NOT claimed; num_values and null_count
    stay checked, the latter not being subject to the writers' min/max
    serialization cap)."""
    n = f"count(*) AS num_values, CAST(count(*) - count({col}) AS BIGINT) AS n_nulls"
    # bounded-width columns assert the footer published bounds
    sp = (
        "CAST(NULL AS BOOLEAN) AS stats_present"
        if kind == "wide"
        else "CAST(1 AS BOOLEAN) AS stats_present"
    )
    nulls = {
        "int": "min({c}) AS min_int, max({c}) AS max_int, CAST(NULL AS DOUBLE) AS min_dbl, CAST(NULL AS DOUBLE) AS max_dbl, CAST(NULL AS VARCHAR) AS min_str, CAST(NULL AS VARCHAR) AS max_str",
        "ts": "epoch_us(min({c})) AS min_int, epoch_us(max({c})) AS max_int, CAST(NULL AS DOUBLE) AS min_dbl, CAST(NULL AS DOUBLE) AS max_dbl, CAST(NULL AS VARCHAR) AS min_str, CAST(NULL AS VARCHAR) AS max_str",
        "dbl": "CAST(NULL AS BIGINT) AS min_int, CAST(NULL AS BIGINT) AS max_int, min({c}) + 0.0 AS min_dbl, max({c}) + 0.0 AS max_dbl, CAST(NULL AS VARCHAR) AS min_str, CAST(NULL AS VARCHAR) AS max_str",
        "str": "CAST(NULL AS BIGINT) AS min_int, CAST(NULL AS BIGINT) AS max_int, CAST(NULL AS DOUBLE) AS min_dbl, CAST(NULL AS DOUBLE) AS max_dbl, min({c}) AS min_str, max({c}) AS max_str",
        "wide": "CAST(NULL AS BIGINT) AS min_int, CAST(NULL AS BIGINT) AS max_int, CAST(NULL AS DOUBLE) AS min_dbl, CAST(NULL AS DOUBLE) AS max_dbl, CAST(NULL AS VARCHAR) AS min_str, CAST(NULL AS VARCHAR) AS max_str",
    }[kind].format(c=col)
    return f"SELECT '{tbl}.{col}' AS col_name, {n}, {sp}, {nulls} FROM {tbl}"


FOOTER_STATS_SQL = (
    "\nUNION ALL\n".join(
        [
            _stat_select("events", "event_id", "int"),
            _stat_select("events", "ts", "ts"),
            _stat_select("events", "user_id", "int"),
            _stat_select("events", "event_type", "str"),
            _stat_select("events", "value", "dbl"),
            _stat_select("events", "props", "wide"),
            _stat_select("documents", "doc_id", "int"),
            _stat_select("documents", "text", "wide"),
            _stat_select("documents", "lang", "str"),
            _stat_select("documents", "source", "str"),
            _stat_select("documents", "n_chars", "int"),
        ]
    )
    + "\nORDER BY col_name"
)


# -- round 11: the page-index audit query -------------------------------

PAGE_INDEX_COLS = ("event_id", "user_id", "value")


def stage_events_page_indexed(spark, sf_dir: str) -> str:
    """Write ``events`` as a value-clustered parquet layout WITH page
    indexes: ``repartitionByRange(4, value)`` + sort-within-partition
    so each file's pages carry tight ``value`` bounds (the layout
    page-level pruning rewards), ~1000-row pages via
    ``parquet.page.row.count.limit`` so even the small staging corpora
    have multiple pages per chunk. parquet-mr (Spark's writer) emits
    ColumnIndex/OffsetIndex by default — these are FOREIGN index
    bytes, not ours. Staged once per corpus fingerprint
    (``staging.stage_once``)."""
    import os

    from pyspark.sql import functions as F

    from .staging import fingerprint_dir, stage_once
    from .tables import load_table

    tag, out_dir = fingerprint_dir("pageidx", sf_dir, "events")

    def build(stage: str) -> None:
        (
            load_table(spark, sf_dir, "events")
            .select("event_id", "user_id", "value")
            .repartitionByRange(4, F.col("value"), F.col("event_id"))
            .sortWithinPartitions("value", "event_id")
            .write.option("parquet.page.row.count.limit", "1000")
            .parquet(os.path.join(stage, "data"))
        )

    return stage_once(out_dir, tag, build)


def page_index_stats(spark, sf_dir: str):
    """``dq_parquet_page_index_stats`` — the page-level pruning
    metadata (VERDICT r10 ask #5) decoded from parquet-mr's OWN index
    bytes and bound to the data three ways:

    - ``vmin``/``vmax``/``nulls``/``rows_covered`` aggregate the
      per-page ColumnIndex bounds and OffsetIndex row spans across
      every file and row group; the oracle recomputes the same
      numbers FROM THE ROWS, so a misparsed varint, a wrong
      first_row_index, or a dropped page breaks the hash;
    - ``pruning_sound``/``kept_complete``: each file task replays
      min/max pruning for ``col <= (fmin + (fmax-fmin)/4)`` and
      verifies against a pyarrow row-level read (a second FOREIGN
      reader) that pruned row ranges hold ZERO matching rows and kept
      pages hold ALL of them — the two directions a pruning bug can
      fail;
    - ``boundary``: the sort column's chunks must publish ASCENDING
      boundary order (what makes page-bound binary search legal).

    Scale: one task per part file (the footer_column_stats pattern) —
    a 100 TB table audits as an embarrassingly-parallel metadata scan
    plus one column read per file."""
    import os

    from pyspark.sql import functions as F

    from ..functions.numeric import round2

    data_dir = os.path.join(
        stage_events_page_indexed(spark, sf_dir), "data"
    )
    paths = [
        os.path.join(data_dir, f)
        for f in sorted(os.listdir(data_dir))
        if f.endswith(".parquet")
    ]
    files = spark.createDataFrame(
        [(p,) for p in paths], "path string"
    ).repartition(max(len(paths), 1))
    audit_cols = PAGE_INDEX_COLS

    def parse(iterator):
        import pandas as pd
        import pyarrow.parquet as papq

        for pdf in iterator:
            rows = []
            for path in pdf["path"]:
                pi = read_page_index(path)
                values = {
                    c: papq.read_table(path, columns=[c]).column(c).to_pylist()
                    for c in audit_cols
                }
                for col in audit_cols:
                    vmin = vmax = None
                    nulls = 0
                    covered = 0
                    n_pages = 0
                    present = True
                    boundaries = set()
                    chunks = []  # (entry, rg_row_offset)
                    rg_off = 0
                    for rg in pi:
                        for e in rg:
                            if e["path"] != col:
                                continue
                            if (
                                e["column_index"] is None
                                or e["offset_index"] is None
                            ):
                                present = False
                                continue
                            ci, oi = e["column_index"], e["offset_index"]
                            locs = oi["page_locations"]
                            n_pages += len(locs)
                            boundaries.add(ci["boundary_order"])
                            for mn in ci["min_values"]:
                                if mn is None:
                                    continue
                                vmin = mn if vmin is None else min(vmin, mn)
                            for mx in ci["max_values"]:
                                if mx is None:
                                    continue
                                vmax = mx if vmax is None else max(vmax, mx)
                            nulls += sum(ci["null_counts"] or [])
                            for i in range(len(locs)):
                                start = locs[i]["first_row_index"]
                                end = (
                                    locs[i + 1]["first_row_index"]
                                    if i + 1 < len(locs)
                                    else e["num_rows"]
                                )
                                covered += end - start
                            chunks.append((e, rg_off))
                        rg_off += rg[0]["num_rows"] if rg else 0
                    # pruning replay + two-sided verification
                    sound = complete = True
                    if present and vmin is not None and vmax is not None:
                        thr = vmin + (vmax - vmin) / 4
                        if col != "value":
                            thr = int(thr)
                        vals = values[col]
                        matches = {
                            i
                            for i, v in enumerate(vals)
                            if v is not None and v <= thr
                        }
                        kept_rows = set()
                        for e, off in chunks:
                            pruned = page_prune_ranges(e, hi=thr)
                            pruned_abs = {
                                r
                                for s, en in pruned["pruned_ranges"]
                                for r in range(off + s, off + en)
                            }
                            all_rows = set(
                                range(off, off + e["num_rows"])
                            )
                            kept_rows |= all_rows - pruned_abs
                            if pruned_abs & matches:
                                sound = False
                        if not matches <= kept_rows:
                            complete = False
                    rows.append(
                        {
                            "col": col,
                            "vmin": None if vmin is None else float(vmin),
                            "vmax": None if vmax is None else float(vmax),
                            "nulls": int(nulls),
                            "rows_covered": int(covered),
                            "index_present": bool(present),
                            "value_ascending": (
                                boundaries == {"ASCENDING"}
                                if col == "value"
                                else True
                            ),
                            "pruning_sound": bool(sound),
                            "kept_complete": bool(complete),
                        }
                    )
            yield pd.DataFrame(
                rows,
                columns=[
                    "col", "vmin", "vmax", "nulls", "rows_covered",
                    "index_present", "value_ascending", "pruning_sound",
                    "kept_complete",
                ],
            )

    per_file = files.mapInPandas(
        parse,
        "col string, vmin double, vmax double, nulls bigint, "
        "rows_covered bigint, index_present boolean, "
        "value_ascending boolean, pruning_sound boolean, "
        "kept_complete boolean",
    )
    return (
        per_file.groupBy("col")
        .agg(
            F.count("*").cast("bigint").alias("files"),
            round2(F.min("vmin") + F.lit(0.0), 2).alias("vmin"),
            round2(F.max("vmax") + F.lit(0.0), 2).alias("vmax"),
            F.sum("nulls").cast("bigint").alias("nulls"),
            F.sum("rows_covered").cast("bigint").alias("rows_covered"),
            F.min("index_present").alias("index_present"),
            F.min("value_ascending").alias("value_ascending"),
            F.min("pruning_sound").alias("pruning_sound"),
            F.min("kept_complete").alias("kept_complete"),
        )
        .orderBy("col")
    )


PAGE_INDEX_STATS_SQL = """
WITH agg AS (
    SELECT count(*) AS n,
           round(min(event_id) + 0.0, 2) AS min_eid,
           round(max(event_id) + 0.0, 2) AS max_eid,
           CAST(count(*) - count(event_id) AS BIGINT) AS null_eid,
           round(min(user_id) + 0.0, 2) AS min_uid,
           round(max(user_id) + 0.0, 2) AS max_uid,
           CAST(count(*) - count(user_id) AS BIGINT) AS null_uid,
           round(min(value) + 0.0, 2) AS min_val,
           round(max(value) + 0.0, 2) AS max_val,
           CAST(count(*) - count(value) AS BIGINT) AS null_val
    FROM events
)
SELECT c.col,
       CAST(4 AS BIGINT) AS files,
       CASE c.col WHEN 'event_id' THEN min_eid
                  WHEN 'user_id' THEN min_uid
                  ELSE min_val END AS vmin,
       CASE c.col WHEN 'event_id' THEN max_eid
                  WHEN 'user_id' THEN max_uid
                  ELSE max_val END AS vmax,
       CASE c.col WHEN 'event_id' THEN null_eid
                  WHEN 'user_id' THEN null_uid
                  ELSE null_val END AS nulls,
       CAST(n AS BIGINT) AS rows_covered,
       true AS index_present,
       true AS value_ascending,
       true AS pruning_sound,
       true AS kept_complete
FROM agg, (VALUES ('event_id'), ('user_id'), ('value')) AS c(col)
ORDER BY c.col
"""


# -- round 11: parquet BLOOM FILTERS (split-block, xxhash64) ------------
#
# The third pruning tier after row-group stats and the page index:
# point predicates on high-cardinality columns (user_id = X) that
# min/max bounds cannot reject skip whole row groups via the bloom
# bitset. Format per parquet-format BloomFilter.md: a thrift
# BloomFilterHeader (numBytes + algorithm/hash/compression unions,
# BLOCK/XXHASH/UNCOMPRESSED) at ColumnMetaData.bloom_filter_offset
# (field 14; field 15 length where newer writers stamp it), followed
# by the bitset — split into 256-bit blocks of eight 32-bit words,
# one bit set per word per value (the SALT constants below), block
# chosen by the top 32 hash bits. The hash input is the value's PLAIN
# encoding (little-endian fixed width for numerics, raw bytes for
# BYTE_ARRAY), hashed with xxHash64 seed 0 — implemented below from
# the public spec and foreign-validated in tests against parquet-mr's
# own BlockSplitBloomFilter via py4j (their findHash accepts our
# hashes and vice versa).

_BLOOM_SALT = (
    0x47B6137B, 0x44974D91, 0x8824AD5B, 0xA2B7289D,
    0x705495C7, 0x2DF1424B, 0x9EFC4947, 0x5C6BFB31,
)
_M64 = (1 << 64) - 1
_XXP1, _XXP2, _XXP3, _XXP4, _XXP5 = (
    0x9E3779B185EBCA87, 0xC2B2AE3D27D4EB4F, 0x165667B19E3779F9,
    0x85EBCA77C2B2AE63, 0x27D4EB2F165667C5,
)


def _rotl64(x: int, r: int) -> int:
    return ((x << r) | (x >> (64 - r))) & _M64


def _xx_round(acc: int, inp: int) -> int:
    acc = (acc + inp * _XXP2) & _M64
    return (_rotl64(acc, 31) * _XXP1) & _M64


def xxhash64(data: bytes, seed: int = 0) -> int:
    """xxHash64 (Cyan4973/xxHash, public spec) — the hash the parquet
    bloom format mandates. Pinned against the reference vectors and
    parquet-mr's output in tests/test_parquet_footer.py."""
    n, pos = len(data), 0
    if n >= 32:
        v1 = (seed + _XXP1 + _XXP2) & _M64
        v2 = (seed + _XXP2) & _M64
        v3 = seed & _M64
        v4 = (seed - _XXP1) & _M64
        while pos + 32 <= n:
            v1 = _xx_round(v1, int.from_bytes(data[pos : pos + 8], "little"))
            v2 = _xx_round(
                v2, int.from_bytes(data[pos + 8 : pos + 16], "little")
            )
            v3 = _xx_round(
                v3, int.from_bytes(data[pos + 16 : pos + 24], "little")
            )
            v4 = _xx_round(
                v4, int.from_bytes(data[pos + 24 : pos + 32], "little")
            )
            pos += 32
        h = (
            _rotl64(v1, 1) + _rotl64(v2, 7) + _rotl64(v3, 12)
            + _rotl64(v4, 18)
        ) & _M64
        for v in (v1, v2, v3, v4):
            h = ((h ^ _xx_round(0, v)) * _XXP1 + _XXP4) & _M64
    else:
        h = (seed + _XXP5) & _M64
    h = (h + n) & _M64
    while pos + 8 <= n:
        h ^= _xx_round(0, int.from_bytes(data[pos : pos + 8], "little"))
        h = (_rotl64(h, 27) * _XXP1 + _XXP4) & _M64
        pos += 8
    if pos + 4 <= n:
        h ^= (int.from_bytes(data[pos : pos + 4], "little") * _XXP1) & _M64
        h = (_rotl64(h, 23) * _XXP2 + _XXP3) & _M64
        pos += 4
    while pos < n:
        h ^= (data[pos] * _XXP5) & _M64
        h = (_rotl64(h, 11) * _XXP1) & _M64
        pos += 1
    h ^= h >> 33
    h = (h * _XXP2) & _M64
    h ^= h >> 29
    h = (h * _XXP3) & _M64
    h ^= h >> 32
    return h


def bloom_hash_value(value, physical: str) -> int:
    """Hash input = the value's PLAIN encoding per the spec."""
    if physical == "INT64":
        data = struct.pack("<q", int(value))
    elif physical == "INT32":
        data = struct.pack("<i", int(value))
    elif physical == "DOUBLE":
        data = struct.pack("<d", float(value))
    elif physical == "FLOAT":
        data = struct.pack("<f", float(value))
    elif physical in ("BYTE_ARRAY", "FIXED_LEN_BYTE_ARRAY"):
        data = value.encode() if isinstance(value, str) else bytes(value)
    else:
        raise ValueError(f"bloom hashing unsupported for {physical}")
    return xxhash64(data)


def read_bloom_filters(path: str) -> list[dict[str, dict]]:
    """Per row group: ``{column_path: {"num_bytes", "bitset",
    "type"}}`` for every column chunk that stamped a
    ``bloom_filter_offset``. Header unions are verified to be the
    only combination the format defines (BLOCK/XXHASH/UNCOMPRESSED);
    anything else is refused loudly."""
    fm = _read_raw_footer(path)
    out: list[dict[str, dict]] = []
    try:
        with open(path, "rb") as f:
            for rg in fm.get(4, []):
                cols: dict[str, dict] = {}
                for cc in rg.get(1, []):
                    md = cc.get(3, {})
                    off = md.get(14)
                    if off is None:
                        continue
                    name = ".".join(p.decode() for p in md.get(3, []))
                    f.seek(off)
                    # generous header read; the struct walk stops at
                    # its stop byte and tell() gives the header size
                    head_raw = f.read(64)
                    buf = io.BytesIO(head_raw)
                    header = _read_struct(buf)
                    num_bytes = header[1]
                    if not (
                        isinstance(header.get(2), dict)
                        and 1 in header[2]  # BLOCK
                        and isinstance(header.get(3), dict)
                        and 1 in header[3]  # XXHASH
                        and isinstance(header.get(4), dict)
                        and 1 in header[4]  # UNCOMPRESSED
                    ):
                        raise ValueError(
                            f"{path}: unsupported bloom filter header "
                            f"{header}"
                        )
                    if num_bytes <= 0 or num_bytes % 32:
                        raise ValueError(
                            f"{path}: bloom numBytes {num_bytes} not a "
                            "positive multiple of 32"
                        )
                    f.seek(off + buf.tell())
                    bitset = f.read(num_bytes)
                    if len(bitset) != num_bytes:
                        raise ValueError(f"{path}: bloom bitset truncated")
                    cols[name] = {
                        "num_bytes": num_bytes,
                        "bitset": bitset,
                        "type": PHYSICAL_TYPES[md[1]],
                    }
                out.append(cols)
        return out
    except (AttributeError, TypeError, KeyError, IndexError, EOFError,
            struct.error) as e:
        raise ValueError(
            f"{path}: malformed bloom filter ({type(e).__name__}: {e})"
        ) from e


def bloom_might_contain(bloom: dict, value) -> bool:
    """Split-block probe: top 32 hash bits pick the 256-bit block,
    the low 32 bits × each SALT word pick one bit per 32-bit word —
    all eight set ⟺ maybe present; any clear ⟺ DEFINITELY absent
    (the no-false-negatives guarantee pruning relies on)."""
    h = bloom_hash_value(value, bloom["type"])
    bitset = bloom["bitset"]
    n_blocks = len(bitset) // 32
    bi = ((h >> 32) * n_blocks) >> 32
    key = h & 0xFFFFFFFF
    words = struct.unpack_from("<8I", bitset, bi * 32)
    for i in range(8):
        bit = ((key * _BLOOM_SALT[i]) & 0xFFFFFFFF) >> 27
        if not (words[i] >> bit) & 1:
            return False
    return True


BLOOM_COLS = ("event_id", "user_id")
BLOOM_ABSENT_PROBES = 100
_BLOOM_ABSENT_BASE = 10**12  # beyond any staged id: guaranteed absent


def stage_events_bloom_indexed(spark, sf_dir: str) -> str:
    """Write ``events`` as 4 part files split by ``user_id % 4`` (an
    ORACLE-REPRODUCIBLE partitioning — per-file distinct counts are
    plain SQL over the rule) with parquet-mr bloom filters on the two
    high-cardinality id columns. Staged once per corpus fingerprint."""
    import os

    from pyspark.sql import functions as F

    from .staging import fingerprint_dir, stage_once
    from .tables import load_table

    tag, out_dir = fingerprint_dir("bloom", sf_dir, "events")

    def build(stage: str) -> None:
        ev = load_table(spark, sf_dir, "events").select(
            "event_id", "user_id", "value"
        )
        writer_opts = {}
        for c in BLOOM_COLS:
            writer_opts[f"parquet.bloom.filter.enabled#{c}"] = "true"
            writer_opts[f"parquet.bloom.filter.expected.ndv#{c}"] = "200000"
            # parquet-mr DROPS the bloom when a column fully
            # dictionary-encodes (the dictionary already gives exact
            # membership); force plain encoding on the audited columns
            # so the filter exists at every corpus scale
            writer_opts[f"parquet.enable.dictionary#{c}"] = "false"
        for i in range(4):
            w = (
                ev.filter(F.col("user_id") % 4 == i)
                .coalesce(1)
                .write.mode("overwrite")
            )
            for k, v in writer_opts.items():
                w = w.option(k, v)
            w.parquet(os.path.join(stage, f"split={i}"))

    return stage_once(out_dir, tag, build)


def bloom_probe_stats(spark, sf_dir: str):
    """``dq_parquet_bloom_probe_stats`` — the bloom pruning tier
    audited end to end (one task per part file, the footer-stats
    pattern):

    - every DISTINCT value actually present in a file must probe
      "maybe present" in that file's bloom (``no_false_negatives`` —
      the guarantee pruning correctness rests on; ONE mis-hashed bit
      anywhere flips it). Summed across files the probe count equals
      ``count(DISTINCT col)``, which the oracle recomputes from rows
      because the file split rule (``user_id % 4``) is plain SQL;
    - ``BLOOM_ABSENT_PROBES`` ids from far outside the staged domain
      probe per file; ``absent_excluded_majority`` asserts the filter
      actually prunes (fpp is sized ~1%, so a majority bound is
      astronomically safe while staying layout-independent).

    The hash/probe chain is foreign-validated in tests against
    parquet-mr's own BlockSplitBloomFilter via py4j."""
    import os

    from pyspark.sql import functions as F

    base = stage_events_bloom_indexed(spark, sf_dir)
    paths = []
    for split in sorted(os.listdir(base)):
        d = os.path.join(base, split)
        if not os.path.isdir(d):
            continue
        paths += [
            os.path.join(d, f)
            for f in sorted(os.listdir(d))
            if f.endswith(".parquet")
        ]
    files = spark.createDataFrame(
        [(p,) for p in paths], "path string"
    ).repartition(max(len(paths), 1))
    audit_cols = BLOOM_COLS
    n_absent = BLOOM_ABSENT_PROBES
    absent_base = _BLOOM_ABSENT_BASE

    def parse(iterator):
        import pandas as pd
        import pyarrow.parquet as papq

        for pdf in iterator:
            rows = []
            for path in pdf["path"]:
                blooms = read_bloom_filters(path)
                for col in audit_cols:
                    present = found = 0
                    absent_hits = 0
                    has_bloom = all(col in rg for rg in blooms) and blooms
                    if has_bloom:
                        vals = (
                            papq.read_table(path, columns=[col])
                            .column(col)
                            .to_pylist()
                        )
                        distinct = sorted({v for v in vals if v is not None})
                        present = len(distinct)
                        for rg_blooms in blooms:
                            b = rg_blooms[col]
                            # per-file single row group by construction;
                            # probe every present value and the absent set
                            found += sum(
                                1
                                for v in distinct
                                if bloom_might_contain(b, v)
                            )
                            absent_hits += sum(
                                1
                                for j in range(n_absent)
                                if bloom_might_contain(b, absent_base + j)
                            )
                    rows.append(
                        {
                            "col": col,
                            "present_probes": present,
                            "present_found": found,
                            "absent_hits": absent_hits,
                            "bloom_present": bool(has_bloom),
                        }
                    )
            yield pd.DataFrame(
                rows,
                columns=[
                    "col", "present_probes", "present_found",
                    "absent_hits", "bloom_present",
                ],
            )

    per_file = files.mapInPandas(
        parse,
        "col string, present_probes bigint, present_found bigint, "
        "absent_hits bigint, bloom_present boolean",
    )
    return (
        per_file.groupBy("col")
        .agg(
            F.count("*").cast("bigint").alias("files"),
            F.sum("present_probes").cast("bigint").alias("present_probes"),
            (F.sum("present_probes") == F.sum("present_found")).alias(
                "no_false_negatives"
            ),
            (F.count("*") * n_absent).cast("bigint").alias("absent_probes"),
            (
                F.sum("absent_hits") * 2 < F.count("*") * n_absent
            ).alias("absent_excluded_majority"),
            F.min("bloom_present").alias("bloom_present"),
        )
        .orderBy("col")
    )


BLOOM_PROBE_STATS_SQL = """
SELECT c.col,
       CAST(4 AS BIGINT) AS files,
       CASE c.col
           WHEN 'event_id' THEN (SELECT count(DISTINCT event_id) FROM events)
           ELSE (SELECT count(DISTINCT user_id) FROM events)
       END AS present_probes,
       true AS no_false_negatives,
       CAST(400 AS BIGINT) AS absent_probes,
       true AS absent_excluded_majority,
       true AS bloom_present
FROM (VALUES ('event_id'), ('user_id')) AS c(col)
ORDER BY c.col
"""
