"""Mapbox Vector Tile (MVT) codec + idempotent tile-pyramid sink.

Parity targets in the reference:
  * MVT encode/write  — `src/analytics/src/main/scala/osmesa/analytics/
    updater/package.scala:130-180` (gzip bytes, content-encoding) (S13, G8)
  * MVT read          — `updater/package.scala:37-67`, `VectorGrid.scala:62-81` (S12)
  * tile upsert       — `EditHistogram.scala:219-305` / `Footprints.scala:174-255`:
    read existing tile, skip already-committed sequences, merge features by
    `__id` summing densities, write back (G9)
  * committed-sequence bookkeeping — `VectorGrid.scala:35-60`
    (`__sequences__` layer, last 1000 kept)
  * concurrent tile IO — ForkJoinPool(8) in `Footprints.scala:42-53` (G10)
  * zip packaging — GenerateVT.saveInZips (`GenerateVT.scala:85-115`)

The reference links geotrellis' vectortile codec; we implement the
vector-tile **spec 2.1 protobuf wire format** directly (~200 LoC, no
dependency): varint/zigzag primitives, Tile>Layer>Feature/Value messages,
and all three geometry classes — POINT as MoveTo×n, LINESTRING as
(MoveTo, LineTo×(n-1)) per part, POLYGON as (MoveTo, LineTo×(n-1),
ClosePath) per ring (rings stored OPEN; ClosePath carries the closure,
per spec §4.3.4.4). Multi-part geometries are additional parts in the
same command stream, exactly how geotrellis' StrictLayer writes
MultiLine/MultiPolygon. Values: int/string/bool/float.

Sink shape: every tile path — the pyramid upsert
(`write_tile_pyramid_grouped`), the bytes-as-rows encoder (`encode_tiles`,
`updater.generate_geometry_vt`), the zip packager (`save_pyramid_in_zips`)
and the per-element updater (`updater.update_tiles`) — is built from the
same parts: one grouping chain (`_group_cells`: cell struct → spread →
group by tile → `array_sort(collect_list)`), one cell → feature builder,
one byte-stable gzip + store put (`put_tile`), one encode kernel and one
executor write loop (`_foreach_rows_counted`, which returns its row count
from the write job itself). Executor memory is bounded by one group's
cells (≤128² per tile); the driver never sees tile bytes.
"""

from __future__ import annotations

import gzip
import io
import struct
import zipfile
from dataclasses import dataclass, field

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

SEQUENCES_LAYER = "__sequences__"
MAX_COMMITTED_SEQUENCES = 1000  # VectorGrid.scala:48-49
DEFAULT_EXTENT = 4096
_GEOM_POINT = 1
_GEOM_LINESTRING = 2
_GEOM_POLYGON = 3
_CMD_MOVETO = 1
_CMD_LINETO = 2
_CMD_CLOSEPATH = 7


# ---------------------------------------------------------------------------
# protobuf wire primitives
# ---------------------------------------------------------------------------

def _varint(n: int) -> bytes:
    out = bytearray()
    while True:
        b = n & 0x7F
        n >>= 7
        if n:
            out.append(b | 0x80)
        else:
            out.append(b)
            return bytes(out)


def _zigzag(n: int) -> int:
    return (n << 1) ^ (n >> 63)


def _unzigzag(n: int) -> int:
    return (n >> 1) ^ -(n & 1)


def _key(field_no: int, wire_type: int) -> bytes:
    return _varint((field_no << 3) | wire_type)


def _len_field(field_no: int, payload: bytes) -> bytes:
    return _key(field_no, 2) + _varint(len(payload)) + payload


def _read_varint(buf: bytes, pos: int) -> tuple[int, int]:
    shift = result = 0
    while True:
        b = buf[pos]
        pos += 1
        result |= (b & 0x7F) << shift
        if not b & 0x80:
            return result, pos
        shift += 7


def _fields(buf: bytes):
    """Yield (field_no, wire_type, value) over a protobuf message body."""
    pos = 0
    while pos < len(buf):
        tag, pos = _read_varint(buf, pos)
        field_no, wire = tag >> 3, tag & 0x7
        if wire == 0:
            val, pos = _read_varint(buf, pos)
        elif wire == 2:
            ln, pos = _read_varint(buf, pos)
            val = buf[pos : pos + ln]
            pos += ln
        elif wire == 5:
            val = buf[pos : pos + 4]
            pos += 4
        elif wire == 1:
            val = buf[pos : pos + 8]
            pos += 8
        else:  # pragma: no cover
            raise ValueError(f"unsupported wire type {wire}")
        yield field_no, wire, val


# ---------------------------------------------------------------------------
# tile model
# ---------------------------------------------------------------------------

@dataclass
class MvtFeature:
    fid: int | None
    geom_type: int  # 1=point, 2=linestring, 3=polygon
    points: list[tuple[int, int]]  # type 1: extent-local integer coords
    tags: dict[str, object] = field(default_factory=dict)
    # types 2/3: geometry parts in extent-local integer coords. For
    # LINESTRING each part is a polyline (≥2 vertices); >1 part is a
    # MultiLineString. For POLYGON each part is an OPEN ring (no repeated
    # closing vertex — ClosePath carries the closure); ring winding
    # distinguishes exterior (positive shoelace area in screen coords)
    # from interior, per spec 2.1 §4.3.4.4.
    parts: list[list[tuple[int, int]]] = field(default_factory=list)


def _encode_value(v: object) -> bytes:
    if isinstance(v, bool):
        return _key(7, 0) + _varint(1 if v else 0)
    if isinstance(v, int):
        if v >= 0:
            return _key(4, 0) + _varint(v)
        return _key(6, 0) + _varint(_zigzag(v))
    if isinstance(v, float):
        return _key(3, 1) + struct.pack("<d", v)
    return _len_field(1, str(v).encode("utf-8"))


def _decode_value(buf: bytes) -> object:
    for field_no, _wire, val in _fields(buf):
        if field_no == 1:
            return val.decode("utf-8")
        if field_no == 2:
            return struct.unpack("<f", val)[0]
        if field_no == 3:
            return struct.unpack("<d", val)[0]
        if field_no in (4, 5):
            return val
        if field_no == 6:
            return _unzigzag(val)
        if field_no == 7:
            return bool(val)
    return None


def _encode_geometry(f: "MvtFeature") -> bytes:
    """Feature → spec 2.1 command stream. The cursor is relative across
    parts (geotrellis writes MultiLine/MultiPolygon the same way)."""
    cmds: list[int] = []
    cx = cy = 0
    if f.geom_type == _GEOM_POINT:
        cmds.append(_CMD_MOVETO | (len(f.points) << 3))
        for x, y in f.points:
            cmds.append(_zigzag(x - cx))
            cmds.append(_zigzag(y - cy))
            cx, cy = x, y
        return b"".join(_varint(c) for c in cmds)
    if f.geom_type not in (_GEOM_LINESTRING, _GEOM_POLYGON):
        raise ValueError(f"unsupported geometry type {f.geom_type}")
    for part in f.parts:
        pts = part
        if (
            f.geom_type == _GEOM_POLYGON
            and len(pts) > 1
            and pts[0] == pts[-1]
        ):
            pts = pts[:-1]  # rings are stored open; ClosePath closes them
        if len(pts) < (3 if f.geom_type == _GEOM_POLYGON else 2):
            raise ValueError(
                f"geometry type {f.geom_type} part needs "
                f">= {3 if f.geom_type == _GEOM_POLYGON else 2} vertices"
            )
        x, y = pts[0]
        cmds.append(_CMD_MOVETO | (1 << 3))
        cmds.append(_zigzag(x - cx))
        cmds.append(_zigzag(y - cy))
        cx, cy = x, y
        cmds.append(_CMD_LINETO | ((len(pts) - 1) << 3))
        for x, y in pts[1:]:
            cmds.append(_zigzag(x - cx))
            cmds.append(_zigzag(y - cy))
            cx, cy = x, y
        if f.geom_type == _GEOM_POLYGON:
            cmds.append(_CMD_CLOSEPATH | (1 << 3))
    return b"".join(_varint(c) for c in cmds)


def _decode_geometry(
    raw: list[int], geom_type: int
) -> tuple[list[tuple[int, int]], list[list[tuple[int, int]]]]:
    """Command stream → (points, parts); points filled for POINT features,
    parts (open rings / polylines) for LINESTRING and POLYGON."""
    parts: list[list[tuple[int, int]]] = []
    cur: list[tuple[int, int]] = []
    cx = cy = 0
    i = 0
    while i < len(raw):
        cmd = raw[i]
        cmd_id, count = cmd & 0x7, cmd >> 3
        i += 1
        if cmd_id == _CMD_MOVETO:
            if cur:
                parts.append(cur)
                cur = []
            for _ in range(count):
                cx += _unzigzag(raw[i])
                cy += _unzigzag(raw[i + 1])
                i += 2
                cur.append((cx, cy))
        elif cmd_id == _CMD_LINETO:
            for _ in range(count):
                cx += _unzigzag(raw[i])
                cy += _unzigzag(raw[i + 1])
                i += 2
                cur.append((cx, cy))
        elif cmd_id == _CMD_CLOSEPATH:
            parts.append(cur)  # ring stays open in the model
            cur = []
        else:
            raise ValueError(f"unsupported geometry command {cmd_id}")
    if cur:
        parts.append(cur)
    if geom_type == _GEOM_POINT:
        return [p for part in parts for p in part], []
    return [], parts


def ring_area2(pts: list[tuple[int, int]]) -> int:
    """Twice the signed shoelace area of an open ring in SCREEN coords
    (y down): positive = exterior winding per spec 2.1 §4.3.4.4."""
    n = len(pts)
    s = 0
    for i in range(n):
        x0, y0 = pts[i]
        x1, y1 = pts[(i + 1) % n]
        s += x0 * y1 - x1 * y0
    return -s  # screen y-axis points down: negate the math convention


def feature_area2(f: "MvtFeature") -> int:
    """Twice the absolute area of a polygon feature (exterior rings minus
    holes) — the GenerateVT.scala:255-256 area-descending sort key."""
    if f.geom_type != _GEOM_POLYGON:
        return 0
    return sum(ring_area2(p) for p in f.parts)


def layer_feature_order(feats: list["MvtFeature"]) -> list["MvtFeature"]:
    """makeLayer/StrictLayer write order (updater/package.scala:325-341):
    points, then lines, then polygons — polygons area-descending
    (GenerateVT.scala:255-256) so bigger footprints render underneath."""
    pts = [f for f in feats if f.geom_type == _GEOM_POINT]
    lns = [f for f in feats if f.geom_type == _GEOM_LINESTRING]
    pls = sorted(
        (f for f in feats if f.geom_type == _GEOM_POLYGON),
        key=feature_area2,
        reverse=True,
    )
    return pts + lns + pls


def encode_tile(layers: dict[str, list[MvtFeature]]) -> bytes:
    """Encode {layer_name: [features]} into MVT protobuf bytes."""
    out = bytearray()
    for name, feats in layers.items():
        keys: list[str] = []
        values: list[bytes] = []
        val_index: dict[bytes, int] = {}
        key_index: dict[str, int] = {}
        feat_bufs: list[bytes] = []
        for f in feats:
            tag_ints: list[int] = []
            for k, v in f.tags.items():
                if k not in key_index:
                    key_index[k] = len(keys)
                    keys.append(k)
                ev = _encode_value(v)
                if ev not in val_index:
                    val_index[ev] = len(values)
                    values.append(ev)
                tag_ints.extend((key_index[k], val_index[ev]))
            body = bytearray()
            if f.fid is not None:
                body += _key(1, 0) + _varint(f.fid)
            if tag_ints:
                packed = b"".join(_varint(t) for t in tag_ints)
                body += _len_field(2, packed)
            body += _key(3, 0) + _varint(f.geom_type)
            body += _len_field(4, _encode_geometry(f))
            feat_bufs.append(bytes(body))
        layer = bytearray()
        layer += _key(15, 0) + _varint(2)  # version
        layer += _len_field(1, name.encode("utf-8"))
        for fb in feat_bufs:
            layer += _len_field(2, fb)
        for k in keys:
            layer += _len_field(3, k.encode("utf-8"))
        for v in values:
            layer += _len_field(4, v)
        layer += _key(5, 0) + _varint(DEFAULT_EXTENT)
        out += _len_field(3, bytes(layer))
    return bytes(out)


def decode_tile(buf: bytes) -> dict[str, list[MvtFeature]]:
    """Decode MVT protobuf bytes back into {layer_name: [features]}."""
    layers: dict[str, list[MvtFeature]] = {}
    for field_no, _wire, val in _fields(buf):
        if field_no != 3:
            continue
        name = ""
        keys: list[str] = []
        values: list[object] = []
        feat_bufs: list[bytes] = []
        for lf, _lw, lv in _fields(val):
            if lf == 1:
                name = lv.decode("utf-8")
            elif lf == 2:
                feat_bufs.append(lv)
            elif lf == 3:
                keys.append(lv.decode("utf-8"))
            elif lf == 4:
                values.append(_decode_value(lv))
        feats: list[MvtFeature] = []
        for fb in feat_bufs:
            fid = None
            geom_type = 0
            tag_ints: list[int] = []
            raw_geom: list[int] = []
            for ff, fw, fv in _fields(fb):
                if ff == 1:
                    fid = fv
                elif ff == 2:
                    pos = 0
                    while pos < len(fv):
                        t, pos = _read_varint(fv, pos)
                        tag_ints.append(t)
                elif ff == 3:
                    geom_type = fv
                elif ff == 4:
                    pos = 0
                    while pos < len(fv):
                        g, pos = _read_varint(fv, pos)
                        raw_geom.append(g)
            tags = {
                keys[tag_ints[i]]: values[tag_ints[i + 1]]
                for i in range(0, len(tag_ints), 2)
            }
            pts, parts = _decode_geometry(raw_geom, geom_type)
            feats.append(
                MvtFeature(
                    fid=fid,
                    geom_type=geom_type,
                    points=pts,
                    tags=tags,
                    parts=parts,
                )
            )
        layers[name] = feats
    return layers


# ---------------------------------------------------------------------------
# tile store: one codec, one put, one read
# ---------------------------------------------------------------------------

def _tile_key(zoom: int, tx: int, ty: int) -> str:
    return f"{zoom}/{tx}/{ty}.mvt.gz"


def _zip_key(zoom: int, atx: int, aty: int) -> str:
    """Archive key of an 8-block subtree: `zoom` is its base zoom and
    (atx, aty) its tile there (GenerateVT.scala:85-115)."""
    return f"{zoom}/{atx}/{aty}.zip"


def _gzip(buf: bytes) -> bytes:
    """Byte-stable gzip: mtime=0 keeps the wall clock out of the header,
    so re-encoding identical content writes identical bytes."""
    bio = io.BytesIO()
    with gzip.GzipFile(fileobj=bio, mode="wb", mtime=0) as gz:
        gz.write(buf)
    return bio.getvalue()


def _get(root: str, key: str) -> bytes | None:
    from osmesa_spark.sources.objectstore import join_key, open_store

    store, prefix = open_store(root)
    return store.get(join_key(prefix, key))


def _put(root: str, key: str, data: bytes, content_encoding: str | None) -> None:
    from osmesa_spark.sources.objectstore import join_key, open_store

    store, prefix = open_store(root)
    store.put(join_key(prefix, key), data, content_encoding=content_encoding)


def put_tile(root: str, zoom: int, tx: int, ty: int, layers: dict) -> None:
    """S13: encode + gzip + store one tile, labeled Content-Encoding: gzip
    like the reference's S3 tile put (updater/package.scala:160-180). The
    store seam routes bare paths, file://, mem:// and s3:// roots;
    LocalStore writes tmp+rename so readers never see a partial tile."""
    _put(root, _tile_key(zoom, tx, ty), _gzip(encode_tile(layers)), "gzip")


def read_tile(root: str, zoom: int, tx: int, ty: int):
    """S12: read + gunzip + decode an existing tile, or None
    (updater/package.scala:36-66 read semantics)."""
    raw = _get(root, _tile_key(zoom, tx, ty))
    return None if raw is None else decode_tile(gzip.decompress(raw))


def read_zip_tile(root: str, zoom: int, tx: int, ty: int) -> bytes | None:
    """Fetch one tile payload back out of its `save_pyramid_in_zips`
    archive, or None if the archive or entry is absent."""
    off = zoom % 8
    raw = _get(root, _zip_key(zoom - off, tx >> off, ty >> off))
    if raw is None:
        return None
    with zipfile.ZipFile(io.BytesIO(raw)) as zf:
        name = f"{zoom}/{tx}/{ty}.mvt"
        return zf.read(name) if name in zf.namelist() else None


def committed_sequences(layers: dict[str, list[MvtFeature]]) -> list[int]:
    """VectorGrid.scala:35-43 — sequence list stored as one feature per
    sequence in a bookkeeping layer."""
    return sorted(
        int(f.tags["sequence"]) for f in layers.get(SEQUENCES_LAYER, [])
    )


def _sequence_layer(seqs) -> list[MvtFeature]:
    kept = sorted(set(seqs))[-MAX_COMMITTED_SEQUENCES:]  # takeRight(1000)
    return [
        MvtFeature(fid=None, geom_type=_GEOM_POINT, points=[(0, 0)],
                   tags={"sequence": s})
        for s in kept
    ]


def _merge_features(
    merged: dict[int, "MvtFeature"], features: list["MvtFeature"]
) -> None:
    """Merge features into the per-__id accumulator: numeric tag values
    sum, non-numeric overwrite, new ids append (EditHistogram.scala:181-212
    `aggregateValues` semantics)."""
    for f in features:
        fid = int(f.tags["__id"])
        if fid in merged:
            old = merged[fid]
            tags = dict(old.tags)
            for k, v in f.tags.items():
                if k != "__id" and isinstance(v, int):
                    tags[k] = int(tags.get(k, 0)) + v
                elif k != "__id":
                    tags[k] = v
            merged[fid] = MvtFeature(
                fid=old.fid, geom_type=old.geom_type, points=old.points,
                tags=tags,
            )
        else:
            merged[fid] = f


def upsert_tile_multi(
    root: str,
    zoom: int,
    tx: int,
    ty: int,
    features_by_seq: dict[int, list["MvtFeature"]],
    layer_name: str,
) -> str:
    """G8/G9 tile upsert — `getUncommittedTiles` semantics
    (EditHistogram.scala:285-305): drop sequences already committed in the
    tile ("skipped" when none remain), merge every remaining sequence's
    features by `__id` (densities sum) in one read-modify-write, and
    commit the new sequences in the same put. One tile IO per tile per
    batch, however many replication sequences the batch spans."""
    existing = read_tile(root, zoom, tx, ty)
    committed = set(committed_sequences(existing)) if existing else set()
    pending = {
        int(s): feats
        for s, feats in features_by_seq.items()
        if int(s) not in committed
    }
    if not pending:
        return "skipped"
    merged: dict[int, MvtFeature] = {}
    if existing is not None:
        for f in existing.get(layer_name, []):
            merged[int(f.tags["__id"])] = f
    for s in sorted(pending):
        _merge_features(merged, pending[s])
    put_tile(root, zoom, tx, ty, {
        layer_name: [merged[k] for k in sorted(merged)],
        SEQUENCES_LAYER: _sequence_layer(committed | set(pending)),
    })
    return "written" if existing is None else "updated"


# ---------------------------------------------------------------------------
# DataFrame side: one grouping chain, one write loop, one encode kernel
# ---------------------------------------------------------------------------

# concurrent store puts per task — the reference's ForkJoinPool(8)
# (Footprints.scala:42-53, G10)
_IO_THREADS = 8


def _spread_groups(df: DataFrame, *keys: str) -> DataFrame:
    """Hash-spread rows across the session's full parallelism BEFORE a
    per-tile/per-archive collect_list feeding a Python sink loop.

    The sink's per-row cost is Python encode CPU (MVT varints + gzip,
    ~ms per tile), not bytes — but AQE's post-shuffle coalescing packs
    partitions by BYTE size, so a small batch (a streaming micro-batch,
    a per-sequence update) collapses into ONE task that serializes
    thousands of per-tile encodes on a single core (measured: the bench
    stream's 3,069-tile batch ran as 1 write partition). An explicit
    numPartitions keeps AQE from re-coalescing, and hashing on the
    group keys lets the downstream groupBy reuse this exchange — one
    shuffle total, same rows per group.

    numPartitions = 2 × defaultParallelism is scale-adaptive, not a
    local[32] constant: defaultParallelism is the session's core count
    at every deployment size, a CPU-bound stage saturates at that
    width, and the 2× spreads hot groups (apex tiles, dense ancestor
    zips) across more tasks. Partition row counts are bounded by the
    executor loop's chunked iteration, not by this width."""
    n = 2 * df.sparkSession.sparkContext.defaultParallelism
    return df.repartition(n, *keys)


def _group_cells(df: DataFrame, keys: list[str], cell: Column) -> DataFrame:
    """The one grouping chain of every tile path: (keys…, cell struct) →
    `_spread_groups` → one row per group with its cells in
    `array_sort(collect_list(cell))` order. The sort makes payloads
    byte-stable run to run (the post-spread collect order is
    partition-arrival order), so the struct leads with the field that
    orders it. Fan-in per row is bounded by the group's occupancy."""
    from osmesa_spark.session import ship_package

    ship_package(df.sparkSession)
    return (
        df.select(*keys, cell.alias("cell"))
        .transform(lambda d: _spread_groups(d, *keys))
        .groupBy(*keys)
        .agg(F.array_sort(F.collect_list("cell")).alias("cells"))
    )


def _foreach_rows_counted(df: DataFrame, write) -> int:
    """The one sink executor loop: call `write(row)` for every row with
    `_IO_THREADS` concurrent puts per task, consuming rows in chunks of
    4 × `_IO_THREADS` so a large partition never materializes as one
    Python list. The row count is the write job's own result, one int
    per partition summed on the driver: the single job `foreachPartition`
    runs anyway (it is `mapPartitions(...).count()`), so counting never
    re-runs the lineage."""

    def write_partition(rows):
        from concurrent.futures import ThreadPoolExecutor
        from itertools import islice

        n = 0
        it = iter(rows)
        with ThreadPoolExecutor(max_workers=_IO_THREADS) as pool:
            while chunk := list(islice(it, 4 * _IO_THREADS)):
                n += len(chunk)
                list(pool.map(write, chunk))
        yield n

    return df.rdd.mapPartitions(write_partition).sum()


def _encode_groups(grouped: DataFrame, layers_of) -> DataFrame:
    """The one encode kernel: per grouped (zoom, tx, ty, cells) row,
    `layers_of(row)` gives {layer: [features]} (or None: no tile), encoded
    and gzipped byte-stably in an Arrow-batched mapInPandas. Returns
    (zoom, tx, ty, data binary) — the input of `save_pyramid_in_zips`."""

    def encode_batch(batches):
        import pandas as pd

        for pdf in batches:
            out = []
            for row in pdf.to_dict("records"):
                layers = layers_of(row)
                if layers:
                    out.append((int(row["zoom"]), int(row["tx"]),
                                int(row["ty"]), _gzip(encode_tile(layers))))
            yield pd.DataFrame(out, columns=["zoom", "tx", "ty", "data"])

    return grouped.mapInPandas(
        encode_batch, schema="zoom int, tx bigint, ty bigint, data binary"
    )


def _cell_feature(c, scale: int, tag: str) -> MvtFeature:
    """One vectorized grid cell → its point feature at the cell centre,
    tagged `{tag: value, __id}` (the EditHistogram cell feature)."""
    fid = int(c["__id"])
    half = scale // 2
    return MvtFeature(
        fid=fid,
        geom_type=_GEOM_POINT,
        points=[(int(c["ccol"]) * scale + half, int(c["crow"]) * scale + half)],
        tags={tag: int(c["value"]), "__id": fid},
    )


def write_tile_pyramid_grouped(
    vectorized: DataFrame,
    root: str,
    layer_name: str = "density",
    cells: int = 128,
    key_col: str | None = None,
    facet_col: str | None = None,
) -> int:
    """Sink the `vectorize` output plus a `sequence` column (zoom, tx, ty,
    __id, ccol, crow, value, sequence) as an MVT pyramid under `root` —
    EditHistogram.scala:238-281 `update`: group by tile, split features by
    sequence INSIDE the plan, upsert each tile once (`upsert_tile_multi`
    skips its committed sequences). Tile a batch with key_cols=[sequence]
    so per-sequence cells survive the rasterize agg; a one-sequence write
    is `F.lit(s)` as the column. `key_col` (user id, hashtag, …) routes
    each entity to its own tile tree `root/<key>/` — the keyed Footprints
    URI (Footprints.scala:42-53). `facet_col` renames the density tag to
    `<layer_name>:<facet>` per facet, the faceted-histogram tag shape
    (EditHistogram.scala:183-211). Executor-side writes in one job;
    returns the number of tiles touched."""
    scale = DEFAULT_EXTENT // cells
    fields = [F.col("sequence").cast("long").alias("seq"),
              "__id", "ccol", "crow", "value"]
    if facet_col is not None:
        fields.append(F.col(facet_col).cast("string").alias("facet"))
    keys = ["zoom", "tx", "ty"]
    if key_col is not None:
        vectorized = vectorized.withColumn("__key", F.col(key_col).cast("string"))
        keys = ["__key", *keys]
    tiles = _group_cells(vectorized, keys, F.struct(*fields))

    def write(row):
        by_seq: dict[int, dict[int, MvtFeature]] = {}
        for c in row["cells"]:
            tag = layer_name if facet_col is None else f"{layer_name}:{c['facet']}"
            _merge_features(by_seq.setdefault(int(c["seq"]), {}),
                            [_cell_feature(c, scale, tag)])
        upsert_tile_multi(
            root if key_col is None else f"{root.rstrip('/')}/{row['__key']}",
            row["zoom"],
            row["tx"],
            row["ty"],
            {s: list(feats.values()) for s, feats in by_seq.items()},
            layer_name,
        )

    return _foreach_rows_counted(tiles, write)


def encode_tiles(
    vectorized: DataFrame,
    layer_name: str = "density",
    cells: int = 128,
) -> DataFrame:
    """Encode each tile of the `vectorize` output (zoom, tx, ty, __id,
    ccol, crow, value) to its gzipped MVT payload and RETURN the bytes as
    rows (zoom, tx, ty, data binary) instead of writing them — the input
    of `save_pyramid_in_zips` or any byte-level store."""
    scale = DEFAULT_EXTENT // cells
    grouped = _group_cells(
        vectorized, ["zoom", "tx", "ty"], F.struct("__id", "ccol", "crow", "value")
    )
    return _encode_groups(grouped, lambda row: {
        layer_name: [_cell_feature(c, scale, layer_name) for c in row["cells"]]
    })


def save_pyramid_in_zips(encoded: DataFrame, root: str) -> int:
    """≙ GenerateVT.saveInZips (GenerateVT.scala:85-115) over an encoded
    pyramid (zoom, tx, ty, data): every tile lands in the archive of its
    8-block subtree — base zoom = zoom − zoom%8, ancestor (tx >> zoom%8,
    ty >> zoom%8), key `{base}/{atx}/{aty}.zip` — so one zip carries up to
    8 zoom levels of one subtree; entries named `{zoom}/{tx}/{ty}.mvt`,
    ordered by (zoom, Z2). The reference's single-zoom call is this with
    a literal zoom column. Archives use ZIP_STORED and a fixed DOS
    timestamp, so a re-run writes byte-identical objects. Returns the
    number of archives written."""
    from osmesa_spark.functions.geo import zorder

    off = "CAST(pmod(zoom, 8) AS INT)"
    keyed = encoded.select(
        "*",
        F.expr(f"zoom - {off}").alias("base"),
        F.expr(f"shiftrightunsigned(CAST(tx AS BIGINT), {off})").alias("atx"),
        F.expr(f"shiftrightunsigned(CAST(ty AS BIGINT), {off})").alias("aty"),
    )
    grouped = _group_cells(keyed, ["base", "atx", "aty"], F.struct(
        F.col("zoom").cast("int").alias("zoom"),
        # zoom is a column here, so use the widest safe static width: 31
        # interleaved bit-pairs stay within a bigint, and below 2^zoom
        # the order equals the per-zoom Z2 order
        zorder(F.col("tx"), F.col("ty"), bits=31).alias("z"),
        F.col("tx").cast("bigint").alias("tx"),
        F.col("ty").cast("bigint").alias("ty"),
        "data",
    ))

    def write(row):
        buf = io.BytesIO()
        with zipfile.ZipFile(buf, "w", zipfile.ZIP_STORED) as zf:
            for t in row["cells"]:
                info = zipfile.ZipInfo(f"{t['zoom']}/{t['tx']}/{t['ty']}.mvt",
                                       date_time=(1980, 1, 1, 0, 0, 0))
                zf.writestr(info, bytes(t["data"]))
        _put(root, _zip_key(row["base"], row["atx"], row["aty"]), buf.getvalue(), None)

    return _foreach_rows_counted(grouped, write)
