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

The reference links geotrellis' vectortile codec; we implement the
vector-tile **spec 2.1 protobuf wire format** directly (~200 LoC, no
dependency): varint/zigzag primitives, Tile>Layer>Feature/Value messages,
and all three geometry classes — POINT as MoveTo×n, LINESTRING as
(MoveTo, LineTo×(n-1)) per part, POLYGON as (MoveTo, LineTo×(n-1),
ClosePath) per ring (rings stored OPEN; ClosePath carries the closure,
per spec §4.3.4.4). Multi-part geometries are additional parts in the
same command stream, exactly how geotrellis' StrictLayer writes
MultiLine/MultiPolygon. Values: int/string/bool/float.

Scale notes: the sink consumes the already-aggregated per-tile rows (one
row per tile after `collect_list` of its cells), so executor memory is
bounded by cells-per-tile (≤128²). Writes are executor-side
(`foreachPartition`) with a small thread pool per task for IO overlap —
the driver never sees tile bytes.
"""

from __future__ import annotations

import gzip
import struct
from dataclasses import dataclass, field

from pyspark.sql import DataFrame
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


def encode_tile(
    layers: dict[str, list[MvtFeature]], extent: int = DEFAULT_EXTENT
) -> bytes:
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
        layer += _key(5, 0) + _varint(extent)
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
# tile store (read / upsert)
# ---------------------------------------------------------------------------

def _tile_key(zoom: int, tx: int, ty: int) -> str:
    return f"{zoom}/{tx}/{ty}.mvt.gz"


def read_tile(root: str, zoom: int, tx: int, ty: int):
    """S12: read + gunzip + decode an existing tile, or None. `root` may be
    a bare path, file://, mem://, or s3:// URI — scheme-routed through the
    object-store seam (updater/package.scala:36-66 read semantics)."""
    from osmesa_spark.sources.objectstore import join_key, open_store

    store, prefix = open_store(root)
    raw = store.get(join_key(prefix, _tile_key(zoom, tx, ty)))
    if raw is None:
        return None
    return decode_tile(gzip.decompress(raw))


def committed_sequences(layers: dict[str, list[MvtFeature]]) -> list[int]:
    """VectorGrid.scala:35-43 — sequence list stored as one feature per
    sequence in a bookkeeping layer."""
    return sorted(
        int(f.tags["sequence"]) for f in layers.get(SEQUENCES_LAYER, [])
    )


def _sequence_layer(seqs: list[int]) -> list[MvtFeature]:
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
    extent: int = DEFAULT_EXTENT,
) -> str:
    """Multi-sequence tile upsert — `getUncommittedTiles` semantics
    (EditHistogram.scala:285-305): drop sequences already committed in the
    tile, merge ALL remaining sequences' features in one read-modify-write,
    commit every new sequence atomically. One tile IO per tile per batch
    regardless of how many replication sequences the batch spans (catch-up
    batches), where the per-sequence `upsert_tile` loop would re-read and
    re-write the tile once per sequence."""
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
    seqs = sorted(committed | set(pending))
    layers = {
        layer_name: [merged[k] for k in sorted(merged)],
        SEQUENCES_LAYER: _sequence_layer(seqs),
    }
    payload = gzip.compress(encode_tile(layers, extent))
    from osmesa_spark.sources.objectstore import join_key, open_store

    store, prefix = open_store(root)
    store.put(
        join_key(prefix, _tile_key(zoom, tx, ty)),
        payload,
        content_encoding="gzip",
    )
    return "written" if existing is None else "updated"


def upsert_tile(
    root: str,
    zoom: int,
    tx: int,
    ty: int,
    features: list[MvtFeature],
    layer_name: str,
    sequence: int | None = None,
    extent: int = DEFAULT_EXTENT,
) -> str:
    """G8/G9: create or merge one tile.

    Merge semantics (EditHistogram.scala:181-212 `aggregateValues`): features
    keyed by `__id`; numeric tag values (the densities) sum; new ids append.
    Idempotence: if `sequence` is already committed in the tile, skip
    (returns "skipped"); afterwards the sequence joins the committed list.
    The sequenced path is exactly the 1-sequence case of
    `upsert_tile_multi` and delegates to it (one read-merge-commit-encode
    body to maintain); only the unsequenced no-bookkeeping variant keeps
    its own body.
    """
    if sequence is not None:
        return upsert_tile_multi(
            root,
            zoom,
            tx,
            ty,
            {int(sequence): features},
            layer_name,
            extent=extent,
        )
    existing = read_tile(root, zoom, tx, ty)
    merged: dict[int, MvtFeature] = {}
    if existing is not None:
        for f in existing.get(layer_name, []):
            merged[int(f.tags["__id"])] = f
    _merge_features(merged, features)
    layers = {layer_name: [merged[k] for k in sorted(merged)]}
    payload = gzip.compress(encode_tile(layers, extent))
    # scheme-routed write, labeled Content-Encoding: gzip like the
    # reference's S3 tile put (updater/package.scala:160-180); LocalStore
    # writes atomically (tmp+rename) so readers never see partial tiles
    from osmesa_spark.sources.objectstore import join_key, open_store

    store, prefix = open_store(root)
    store.put(
        join_key(prefix, _tile_key(zoom, tx, ty)),
        payload,
        content_encoding="gzip",
    )
    return "written" if existing is None else "updated"


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


def _foreach_rows_counted(
    df: DataFrame, make_one, io_threads: int, count: bool = True
) -> int:
    """Shared sink executor loop: per partition, build the per-row writer
    via the executor-side `make_one` factory (store handles / imports
    live there), overlap IO with a small thread pool, and ride the row
    count out on ONE accumulator so the caller never re-executes the
    lineage just to report a number. Rows are consumed in bounded chunks
    (4 × io_threads) so a large partition never materializes as one
    Python list while still keeping the IO pool saturated.

    `count=False` skips the accumulator entirely and returns -1: a
    long-running streaming sink calls this once per micro-batch, and
    PySpark accumulators register permanently in the driver's
    `_accumulatorRegistry` — one per batch would be an unbounded driver
    leak for a return value foreachBatch never reads."""
    counter = (
        df.sparkSession.sparkContext.accumulator(0) if count else None
    )

    def write_partition(rows):
        from concurrent.futures import ThreadPoolExecutor
        from itertools import islice

        one = make_one()
        n = 0
        it = iter(rows)
        with ThreadPoolExecutor(max_workers=io_threads) as pool:
            while True:
                chunk = list(islice(it, 4 * io_threads))
                if not chunk:
                    break
                n += len(chunk)
                list(pool.map(one, chunk))
        if counter is not None:
            counter.add(n)

    df.foreachPartition(write_partition)
    return counter.value if counter is not None else -1


def write_tile_pyramid(
    vectorized: DataFrame,
    root: str,
    layer_name: str = "density",
    cells: int = 128,
    value_col: str = "value",
    sequence: int | None = None,
    extent: int = DEFAULT_EXTENT,
    io_threads: int = 8,
) -> int:
    """Sink the `vectorize` output (zoom, tx, ty, __id, ccol, crow, value)
    as an MVT pyramid under `root`. Executor-side writes, one row per tile
    after the per-tile collect, `io_threads` concurrent file writes per task
    (G10 parity: Footprints.scala:42-53). Returns number of tiles touched."""
    from osmesa_spark.session import ship_package

    ship_package(vectorized.sparkSession)
    scale = extent // cells
    tiles = (
        vectorized.select(
            "zoom",
            "tx",
            "ty",
            F.struct("__id", "ccol", "crow", F.col(value_col).alias("value"))
            .alias("cell"),
        )
        .transform(lambda d: _spread_groups(d, "zoom", "tx", "ty"))
        .groupBy("zoom", "tx", "ty")
        .agg(
            # array_sort: byte-stable tile payloads run to run — the
            # post-_spread_groups collect order is partition-arrival order
            # (r10 ADVICE); cells sort by their unique leading __id
            F.array_sort(F.collect_list("cell")).alias("cells")
        )
    )

    def make_one():
        def one(row):
            feats = [
                MvtFeature(
                    fid=int(c["__id"]),
                    geom_type=_GEOM_POINT,
                    points=[
                        (
                            int(c["ccol"]) * scale + scale // 2,
                            int(c["crow"]) * scale + scale // 2,
                        )
                    ],
                    tags={"density": int(c["value"]), "__id": int(c["__id"])},
                )
                for c in row["cells"]
            ]
            upsert_tile(
                root, row["zoom"], row["tx"], row["ty"], feats,
                layer_name, sequence=sequence, extent=extent,
            )

        return one

    return _foreach_rows_counted(tiles, make_one, io_threads)


def write_tile_pyramid_grouped(
    vectorized: DataFrame,
    root: str,
    layer_name: str = "density",
    cells: int = 128,
    value_col: str = "value",
    sequence_col: str = "sequence",
    key_col: str | None = None,
    facet_col: str | None = None,
    extent: int = DEFAULT_EXTENT,
    io_threads: int = 8,
    count_tiles: bool = True,
) -> int:
    """Multi-sequence, optionally keyed/faceted pyramid sink — the
    single-plan replacement for the per-sequence driver loop
    (EditHistogram.scala:238-281 `update`: group by tile, split features by
    sequence INSIDE the plan, filter committed per tile, one IO per tile).

    `vectorized` is the `vectorize` output plus a `sequence` column (tile
    the batch with key_cols=[sequence] so per-sequence cells survive the
    rasterize agg). `key_col` (user id, hashtag, …) routes each entity to
    its own tile tree `root/<key>/` — the reference's keyed Footprints URI
    (Footprints.scala:42-53). `facet_col` renames the density tag to
    `<layer_name>:<facet>` per facet, the faceted-histogram tag shape
    (EditHistogram.scala:183-211). Returns number of tiles touched, or -1
    with `count_tiles=False` (what the streaming sink passes: one
    accumulator per micro-batch would leak in the driver registry)."""
    from osmesa_spark.session import ship_package

    ship_package(vectorized.sparkSession)
    scale = extent // cells
    cell_fields = [
        F.col(sequence_col).cast("long").alias("seq"),
        "__id",
        "ccol",
        "crow",
        F.col(value_col).alias("value"),
    ]
    if facet_col is not None:
        cell_fields.append(F.col(facet_col).cast("string").alias("facet"))
    group_keys = ([F.col(key_col).cast("string").alias("__key")] if key_col else []) + [
        F.col("zoom"), F.col("tx"), F.col("ty")
    ]
    group_names = (["__key"] if key_col else []) + ["zoom", "tx", "ty"]
    tiles = (
        vectorized.select(
            *group_keys, F.struct(*cell_fields).alias("cell")
        )
        .transform(lambda d: _spread_groups(d, *group_names))
        .groupBy(*group_names)
        .agg(
            # array_sort: byte-stable tile payloads run to run — the
            # post-_spread_groups collect order is partition-arrival order
            # (r10 ADVICE); cells sort by their unique leading __id
            F.array_sort(F.collect_list("cell")).alias("cells")
        )
    )

    def make_one():
        def one(row):
            by_seq: dict[int, dict[int, MvtFeature]] = {}
            for c in row["cells"]:
                seq = int(c["seq"])
                fid = int(c["__id"])
                tag = (
                    f"{layer_name}:{c['facet']}"
                    if facet_col is not None
                    else layer_name
                )
                acc = by_seq.setdefault(seq, {})
                _merge_features(
                    acc,
                    [
                        MvtFeature(
                            fid=fid,
                            geom_type=_GEOM_POINT,
                            points=[
                                (
                                    int(c["ccol"]) * scale + scale // 2,
                                    int(c["crow"]) * scale + scale // 2,
                                )
                            ],
                            tags={tag: int(c["value"]), "__id": fid},
                        )
                    ],
                )
            tile_root = (
                f"{root.rstrip('/')}/{row['__key']}" if key_col else root
            )
            upsert_tile_multi(
                tile_root,
                row["zoom"],
                row["tx"],
                row["ty"],
                {s: list(feats.values()) for s, feats in by_seq.items()},
                layer_name,
                extent=extent,
            )

        return one

    return _foreach_rows_counted(
        tiles, make_one, io_threads, count=count_tiles
    )


def save_tiles_in_zips(
    tiles: DataFrame,
    root: str,
    zoom: int,
    io_threads: int = 8,
) -> int:
    """Package one zoom level's encoded tiles into zip archives keyed by
    the zoom-(zoom%8) ancestor tile — ≙ GenerateVT.saveInZips
    (/root/reference/src/bm/src/main/scala/osmesa/bm/GenerateVT.scala:85-115):
    offset = zoom % 8, so zooms 0-7 / 8-15 / … each collapse onto the zip
    grid of their 8-block base zoom; zip object key
    `{zoom-offset}/{tx>>offset}/{ty>>offset}.zip`; entries named
    `{zoom}/{tx}/{ty}.mvt`, Z2(Morton)-ordered within the archive.

    `tiles`: (tx, ty, data binary) rows — `data` is the encoded (optionally
    gzipped) tile payload. Grouping is a single shuffle on the ancestor key
    with the Z2 sort done engine-side (array_sort on a struct whose first
    field is the Morton id) — no groupByKey of raw pairs. Per-ancestor
    fan-in is bounded by 4^offset tiles, the same bound the reference
    accepts. Archives use ZIP_STORED + a fixed DOS timestamp so a re-run
    writes byte-identical objects (idempotent under the store's
    atomic-rename put). Returns the number of zip objects written."""
    from osmesa_spark.functions.geo import zorder
    from osmesa_spark.session import ship_package

    ship_package(tiles.sparkSession)
    offset = zoom % 8
    grouped = (
        tiles.select(
            F.shiftrightunsigned(F.col("tx").cast("bigint"), offset).alias("atx"),
            F.shiftrightunsigned(F.col("ty").cast("bigint"), offset).alias("aty"),
            F.struct(
                # bits must cover the full tile-index range at this zoom
                # (indices reach 2^zoom - 1; the default 16 would wrap
                # beyond zoom 16 and break the guaranteed Z2 entry order)
                zorder(F.col("tx"), F.col("ty"), bits=max(1, min(31, zoom))).alias(
                    "z"
                ),
                F.col("tx").cast("bigint").alias("tx"),
                F.col("ty").cast("bigint").alias("ty"),
                F.col("data").alias("data"),
            ).alias("t"),
        )
        .transform(lambda d: _spread_groups(d, "atx", "aty"))
        .groupBy("atx", "aty")
        .agg(F.array_sort(F.collect_list("t")).alias("entries"))
    )

    def make_one():
        import io as _io
        import zipfile

        from osmesa_spark.sources.objectstore import join_key, open_store

        store, prefix = open_store(root)

        def one(row):
            buf = _io.BytesIO()
            with zipfile.ZipFile(buf, "w", zipfile.ZIP_STORED) as zf:
                for t in row["entries"]:
                    info = zipfile.ZipInfo(
                        f"{zoom}/{t['tx']}/{t['ty']}.mvt",
                        date_time=(1980, 1, 1, 0, 0, 0),
                    )
                    zf.writestr(info, bytes(t["data"]))
            store.put(
                join_key(prefix, f"{zoom - offset}/{row['atx']}/{row['aty']}.zip"),
                buf.getvalue(),
            )

        return one

    return _foreach_rows_counted(grouped, make_one, io_threads)


def read_zip_tile(root: str, zoom: int, tx: int, ty: int) -> bytes | None:
    """Fetch one tile payload back out of its saveInZips archive, or None
    if the archive or entry is absent."""
    import io as _io
    import zipfile

    from osmesa_spark.sources.objectstore import join_key, open_store

    offset = zoom % 8
    store, prefix = open_store(root)
    raw = store.get(
        join_key(prefix, f"{zoom - offset}/{tx >> offset}/{ty >> offset}.zip")
    )
    if raw is None:
        return None
    with zipfile.ZipFile(_io.BytesIO(raw)) as zf:
        name = f"{zoom}/{tx}/{ty}.mvt"
        if name not in zf.namelist():
            return None
        return zf.read(name)


def encode_tiles(
    vectorized: DataFrame,
    layer_name: str = "density",
    cells: int = 128,
    value_col: str = "value",
    extent: int = DEFAULT_EXTENT,
    gzip_bytes: bool = True,
) -> DataFrame:
    """DataFrame twin of write_tile_pyramid's sink loop: encode each tile
    of the `vectorize` output (zoom, tx, ty, __id, ccol, crow, value) to
    its (optionally gzipped) MVT payload and RETURN the bytes as rows
    (zoom, tx, ty, data binary) instead of writing them — the input shape
    for packaging sinks (save_tiles_in_zips) or any byte-level store.
    Same per-tile collect_list fan-in bound as the writer; the codec runs
    in one Arrow-batched kernel."""
    from pyspark.sql import types as T

    from osmesa_spark.session import ship_package

    ship_package(vectorized.sparkSession)
    scale = extent // cells
    grouped = (
        vectorized.select(
            "zoom",
            "tx",
            "ty",
            F.struct("__id", "ccol", "crow", F.col(value_col).alias("value"))
            .alias("cell"),
        )
        .transform(lambda d: _spread_groups(d, "zoom", "tx", "ty"))
        .groupBy("zoom", "tx", "ty")
        .agg(
            # array_sort: byte-stable tile payloads run to run — the
            # post-_spread_groups collect order is partition-arrival order
            # (r10 ADVICE); cells sort by their unique leading __id
            F.array_sort(F.collect_list("cell")).alias("cells")
        )
    )
    schema = T.StructType(
        [
            T.StructField("zoom", T.IntegerType()),
            T.StructField("tx", T.LongType()),
            T.StructField("ty", T.LongType()),
            T.StructField("data", T.BinaryType()),
        ]
    )

    def encode_batch(batches):
        import pandas as pd

        for pdf in batches:
            out = []
            for _, row in pdf.iterrows():
                feats = [
                    MvtFeature(
                        fid=int(c["__id"]),
                        geom_type=_GEOM_POINT,
                        points=[
                            (
                                int(c["ccol"]) * scale + scale // 2,
                                int(c["crow"]) * scale + scale // 2,
                            )
                        ],
                        tags={"density": int(c["value"]), "__id": int(c["__id"])},
                    )
                    for c in row["cells"]
                ]
                buf = encode_tile({layer_name: feats})
                if gzip_bytes:
                    # mtime=0: byte-stable archives across re-runs
                    import io as _io

                    bio = _io.BytesIO()
                    with gzip.GzipFile(fileobj=bio, mode="wb", mtime=0) as gz:
                        gz.write(buf)
                    buf = bio.getvalue()
                out.append(
                    (int(row["zoom"]), int(row["tx"]), int(row["ty"]), buf)
                )
            yield pd.DataFrame(
                out, columns=["zoom", "tx", "ty", "data"]
            )

    return grouped.mapInPandas(encode_batch, schema=schema)


def save_pyramid_in_zips(
    encoded: DataFrame,
    root: str,
    io_threads: int = 8,
) -> int:
    """Multi-zoom packaging of a whole encoded pyramid (zoom, tx, ty,
    data): every tile lands in the archive of its 8-block subtree — key
    zoom base = zoom − (zoom % 8), ancestor (tx >> zoom%8, ty >> zoom%8),
    path {base}/{atx}/{aty}.zip — so one zip carries up to 8 zoom levels
    of one subtree (the 'zip of 8 zooms'). `save_tiles_in_zips` is the
    single-zoom reference-signature twin (GenerateVT.scala:85-115, which
    the reference only ever invokes per zoom); this variant is what a
    tileserver wants to fetch. Entries ordered by (zoom, Z2). Returns the
    number of archives written."""
    from osmesa_spark.functions.geo import zorder
    from osmesa_spark.session import ship_package

    ship_package(encoded.sparkSession)
    off = F.pmod("zoom", F.lit(8)).cast("int")
    grouped = (
        encoded.select(
            (F.col("zoom") - off).alias("base"),
            F.expr("shiftrightunsigned(CAST(tx AS BIGINT), CAST(pmod(zoom, 8) AS INT))").alias("atx"),
            F.expr("shiftrightunsigned(CAST(ty AS BIGINT), CAST(pmod(zoom, 8) AS INT))").alias("aty"),
            F.struct(
                F.col("zoom").cast("int").alias("zoom"),
                # zoom is a column here, so use the widest safe static
                # width: 31 interleaved bit-pairs stay within a bigint
                zorder(F.col("tx"), F.col("ty"), bits=31).alias("z"),
                F.col("tx").cast("bigint").alias("tx"),
                F.col("ty").cast("bigint").alias("ty"),
                F.col("data").alias("data"),
            ).alias("t"),
        )
        .transform(lambda d: _spread_groups(d, "base", "atx", "aty"))
        .groupBy("base", "atx", "aty")
        .agg(F.array_sort(F.collect_list("t")).alias("entries"))
    )

    def make_one():
        import io as _io
        import zipfile

        from osmesa_spark.sources.objectstore import join_key, open_store

        store, prefix = open_store(root)

        def one(row):
            buf = _io.BytesIO()
            with zipfile.ZipFile(buf, "w", zipfile.ZIP_STORED) as zf:
                for t in row["entries"]:
                    info = zipfile.ZipInfo(
                        f"{t['zoom']}/{t['tx']}/{t['ty']}.mvt",
                        date_time=(1980, 1, 1, 0, 0, 0),
                    )
                    zf.writestr(info, bytes(t["data"]))
            store.put(
                join_key(prefix, f"{row['base']}/{row['atx']}/{row['aty']}.zip"),
                buf.getvalue(),
            )

        return one

    return _foreach_rows_counted(grouped, make_one, io_threads)
