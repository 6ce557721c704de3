"""Per-element MVT tile updater — parity with the reference's updater
package (G11): group augmented-diff features by SpatialKey across zooms and
apply one of three **tile schemas** to the affected tiles
(`updater/package.scala:182-291`, `updater/Schema.scala:11-56`, registry
`updater/schemas/package.scala:4-9`):

  * `snapshot` — tile keeps only the LATEST VISIBLE version of each element;
    an update replaces the feature, a delete removes it
    (`updater/schemas/Snapshot.scala`, 59 LoC).
  * `history`  — tile keeps EVERY version; a new version closes the previous
    one by stamping `__validUntil`
    (`updater/schemas/History.scala:15-25`, 137 LoC).
  * `urchn`    — authorship lineage: per element, creation author,
    last-touched author, version count, last edit time
    (`updater/schemas/Urchn.scala`, 113 LoC).

Spark-first shape: schema application is per-(tile, element) and needs the
existing tile state, so it reuses the read-modify-write executor path of
`sinks.mvt` — the DataFrame side only computes tile keys (pure column
Web-Mercator math) and groups; all feature-merge logic is per-tile local.
Idempotence comes from the same committed-sequence layer as the pyramid
sink.

Geometry coverage (updater/package.scala:182-208 `tile`): a point touches
exactly one tile per zoom; a way/relation LineString or Polygon touches
EVERY tile its geometry overlaps — the DataFrame side fans each feature
out to its bounding-box tile range (explode over `sequence(txmin, txmax)`
× `sequence(tymin, tymax)`, pure Column math), and the executor-side
write clips the geometry to each tile's extent (the reference's
`.intersection(sk.extent(layout))` per SpatialKey) — Liang-Barsky for
polylines, Sutherland–Hodgman for rings; bbox-overcounted tiles whose
clip comes back empty are skipped before any write. Large-scale note:
the shuffle stays `groupBy(zoom, tx, ty)` over narrow rows (vertex
arrays ride along once per covered tile, the same duplication the
reference's flatMap produces); partial aggregation applies to the
collect_list, bounded by tile occupancy × feature size.
"""

from __future__ import annotations

import gzip

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from osmesa_spark.functions import geo
from osmesa_spark.sinks import mvt

EXTENT = mvt.DEFAULT_EXTENT


# ---------------------------------------------------------------------------
# tile schema strategies (executor-side, per tile)
# ---------------------------------------------------------------------------

def _ekey(f) -> tuple[str, int]:
    """Element key = (type, id) — the reference's `elementId` is the
    type-qualified id string (e.g. "w123"), so a node and a way sharing a
    numeric id never collide in a tile (updater/package.scala:249-252)."""
    return (str(f.tags.get("__type", "")), int(f.tags["__id"]))


def _vkey(f) -> tuple[int, int]:
    """(version, minorVersion) — History.scala:22-24 sorts minor within
    major, so way-induced geometry-only updates order correctly."""
    return (
        int(f.tags["__version"]),
        int(f.tags.get("__minorVersion") or 0),
    )


def _apply_snapshot(existing: list, updates: list) -> list:
    """Latest visible version per element wins; deletes drop."""
    by_id = {_ekey(f): f for f in existing}
    for u in updates:
        eid = _ekey(u)
        cur = by_id.get(eid)
        if cur is not None and (
            int(cur.tags.get("__version", -1)),
            int(cur.tags.get("__minorVersion") or 0),
        ) >= _vkey(u):
            continue
        if u.tags.get("__visible", True):
            by_id[eid] = u
        else:
            by_id.pop(eid, None)
    return [by_id[k] for k in sorted(by_id)]


def _apply_history(existing: list, updates: list) -> list:
    """Append every version; stamp __validUntil on the superseded one
    (History.scala:15-25 sorts by __version/__minorVersion)."""
    feats = list(existing)
    for u in sorted(updates, key=lambda f: (_ekey(f), _vkey(f))):
        eid = _ekey(u)
        prev = [
            f
            for f in feats
            if _ekey(f) == eid and "__validUntil" not in f.tags
        ]
        for p in prev:
            if _vkey(p) < _vkey(u):
                p.tags["__validUntil"] = u.tags["__updated"]
        if not any(
            _ekey(f) == eid and _vkey(f) == _vkey(u) for f in feats
        ):
            feats.append(u)
    feats.sort(key=lambda f: (_ekey(f), _vkey(f)))
    return feats


def _apply_urchn(existing: list, updates: list) -> list:
    """Authorship lineage per element: keep creation author, update
    lastAuthor/lastEdit/versions."""
    by_id = {_ekey(f): f for f in existing}
    for u in sorted(updates, key=lambda f: (_ekey(f), _vkey(f))):
        eid = _ekey(u)
        cur = by_id.get(eid)
        if cur is None:
            u.tags["__creation_author"] = u.tags["__author"]
            u.tags["__versions"] = 1
            by_id[eid] = u
        elif _vkey(u) > _vkey(cur):
            u.tags["__creation_author"] = cur.tags["__creation_author"]
            u.tags["__versions"] = int(cur.tags["__versions"]) + 1
            by_id[eid] = u
    return [by_id[k] for k in sorted(by_id)]


SCHEMAS = {
    "snapshot": _apply_snapshot,
    "history": _apply_history,
    "urchn": _apply_urchn,
}


# ---------------------------------------------------------------------------
# DataFrame side: tile keys + grouped upsert
# ---------------------------------------------------------------------------

def _feature_tags(schema: str, cols: list[str]):
    """System tag struct — the full History.scala:86-118 makeFeature set
    where the source carries it: __id/__type/__version/__minorVersion/
    __updated/__changeset/__uid/__user/__visible."""
    def opt(name, default):
        return F.col(name) if name in cols else default

    base = {
        "__id": F.col("id"),
        "__type": opt("type", F.lit("")),
        "__version": F.col("version"),
        "__minorVersion": F.coalesce(
            opt("minorVersion", F.lit(0)), F.lit(0)
        ).cast("int"),
        "__updated": F.floor(F.unix_timestamp("updated")).cast("bigint"),
        "__changeset": opt("changeset", F.lit(None).cast("bigint")),
        "__uid": opt("uid", F.lit(None).cast("bigint")),
        "__user": opt("user", F.lit(None).cast("string")),
        "__visible": F.coalesce("visible", F.lit(True)),
    }
    if schema == "urchn":
        base["__author"] = F.col("user")
    return F.struct(*[v.alias(k) for k, v in base.items()])


def _pixel_arrays(geom_col: str, zoom: int):
    """geom array<{lon,lat}> → (px, py) arrays of GLOBAL integer pixel
    coords at `zoom` (extent 4096/tile), clamped to the world."""
    n = 1 << zoom
    scale = float(n) * EXTENT
    hi = n * EXTENT - 1
    px = F.transform(
        geom_col,
        lambda v: F.least(
            F.greatest(
                F.floor(geo.lon_to_unit(v["lon"]) * scale).cast("bigint"),
                F.lit(0).cast("bigint"),
            ),
            F.lit(hi).cast("bigint"),
        ),
    )
    py = F.transform(
        geom_col,
        lambda v: F.least(
            F.greatest(
                F.floor(geo.lat_to_unit(v["lat"]) * scale).cast("bigint"),
                F.lit(0).cast("bigint"),
            ),
            F.lit(hi).cast("bigint"),
        ),
    )
    return px, py


def diffs_with_tiles(diffs: DataFrame, zoom: int) -> DataFrame:
    """Diff features of ALL geometry types keyed by EVERY covering
    (zoom, tx, ty) — the `tile()` fan-out of updater/package.scala:182-208:
    prevKeys ∪ currKeys per feature, geometry carried along for the
    per-tile clip at write time.

    Pure Column math end to end: vertex → global pixel via the shared
    Web-Mercator transforms, tile range = bbox of current ∪ previous
    geometry, fan-out = two `explode(sequence(lo, hi))`. A point fans to
    exactly 1 tile (2 if it moved tiles between versions); a way fans to
    its bbox cover — tiles the geometry misses are dropped by the clip
    before any write happens."""
    base = diffs.where(F.size("geom") >= 1)
    px, py = _pixel_arrays("geom", zoom)
    if "prevGeom" in diffs.columns:
        prev = F.coalesce(
            F.col("prevGeom"),
            F.array().cast("array<struct<lon:double,lat:double>>"),
        )
        ppx, ppy = _pixel_arrays(prev, zoom)
    else:
        ppx = F.array().cast("array<bigint>")
        ppy = F.array().cast("array<bigint>")
    allx = F.concat(px, ppx)
    ally = F.concat(py, ppy)
    ext = F.lit(EXTENT).cast("bigint")
    etype = F.col("type") if "type" in diffs.columns else F.lit("")
    # optional payload columns ride along when the source carries them —
    # the reference's makeFeature emits element tags + changeset/uid on
    # every tiled feature (History.scala:86-118), the same duplication
    # its flatMap produces
    extras = [
        c for c in ("minorVersion", "changeset", "uid", "tags", "prevTags")
        if c in diffs.columns
    ]
    g = base.select(
        "sequence", "id", etype.alias("type"), "version", "updated",
        "visible", "user", "geomType",
        *extras,
        px.alias("px"), py.alias("py"),
        (F.array_min(allx) / ext).cast("bigint").alias("txmin"),
        (F.array_max(allx) / ext).cast("bigint").alias("txmax"),
        (F.array_min(ally) / ext).cast("bigint").alias("tymin"),
        (F.array_max(ally) / ext).cast("bigint").alias("tymax"),
    )
    return g.select(
        F.lit(zoom).alias("zoom"),
        F.explode(F.sequence("txmin", "txmax")).alias("tx"),
        "*",
    ).select(
        "zoom",
        "tx",
        F.explode(F.sequence("tymin", "tymax")).alias("ty"),
        "sequence", "id", "type", "version", "updated", "visible", "user",
        "geomType", *extras, "px", "py",
    )


# ---------------------------------------------------------------------------
# executor-side clipping (the reference's .intersection(sk.extent(layout)))
# ---------------------------------------------------------------------------

def _clip_segment(x0, y0, x1, y1, lo, hi):
    """Liang-Barsky segment × box clip → ((cx0,cy0),(cx1,cy1),t0,t1) or
    None when the segment misses the box entirely."""
    dx, dy = x1 - x0, y1 - y0
    t0, t1 = 0.0, 1.0
    for p, q in (
        (-dx, x0 - lo), (dx, hi - x0),
        (-dy, y0 - lo), (dy, hi - y0),
    ):
        if p == 0:
            if q < 0:
                return None
            continue
        r = q / p
        if p < 0:
            if r > t1:
                return None
            if r > t0:
                t0 = r
        else:
            if r < t0:
                return None
            if r < t1:
                t1 = r
    return (
        (x0 + t0 * dx, y0 + t0 * dy),
        (x0 + t1 * dx, y0 + t1 * dy),
        t0,
        t1,
    )


def _rp(p):
    return (int(round(p[0])), int(round(p[1])))


def _clip_polyline(pts, lo=0.0, hi=float(EXTENT)):
    """Clip a polyline to [lo,hi]², splitting where it leaves the box.
    Returns a list of parts (each ≥2 distinct integer vertices)."""
    parts, cur = [], []

    def flush():
        nonlocal cur
        if len(cur) >= 2:
            parts.append(cur)
        cur = []

    for (x0, y0), (x1, y1) in zip(pts, pts[1:]):
        res = _clip_segment(x0, y0, x1, y1, lo, hi)
        if res is None:
            flush()
            continue
        p0, p1, t0, t1 = res
        p0, p1 = _rp(p0), _rp(p1)
        if t0 > 0.0 or not cur:
            flush()
            cur = [p0]
        if cur[-1] != p1:
            cur.append(p1)
        if t1 < 1.0:
            flush()
    flush()
    return parts


def _clip_ring(pts, lo=0.0, hi=float(EXTENT)):
    """Sutherland–Hodgman ring × box clip. Input/output rings are OPEN
    (no repeated closing vertex); returns [] when the intersection is
    empty or degenerate (<3 distinct vertices)."""
    ring = list(pts)
    if len(ring) > 1 and ring[0] == ring[-1]:
        ring = ring[:-1]
    for inside, isect in (
        (lambda p: p[0] >= lo,
         lambda a, b: (lo, a[1] + (b[1] - a[1]) * (lo - a[0]) / (b[0] - a[0]))),
        (lambda p: p[0] <= hi,
         lambda a, b: (hi, a[1] + (b[1] - a[1]) * (hi - a[0]) / (b[0] - a[0]))),
        (lambda p: p[1] >= lo,
         lambda a, b: (a[0] + (b[0] - a[0]) * (lo - a[1]) / (b[1] - a[1]), lo)),
        (lambda p: p[1] <= hi,
         lambda a, b: (a[0] + (b[0] - a[0]) * (hi - a[1]) / (b[1] - a[1]), hi)),
    ):
        if not ring:
            return []
        out = []
        prev = ring[-1]
        prev_in = inside(prev)
        for p in ring:
            p_in = inside(p)
            if p_in:
                if not prev_in:
                    out.append(isect(prev, p))
                out.append(p)
            elif prev_in:
                out.append(isect(prev, p))
            prev, prev_in = p, p_in
        ring = out
    snapped = []
    for p in ring:
        q = _rp(p)
        if not snapped or snapped[-1] != q:
            snapped.append(q)
    if len(snapped) > 1 and snapped[0] == snapped[-1]:
        snapped = snapped[:-1]
    return snapped if len(snapped) >= 3 else []


def _tile_local_feature(f, tx: int, ty: int):
    """Clip one fanned-out diff row's CURRENT geometry to tile (tx, ty)
    and build the MvtFeature, or None when the geometry misses the tile
    (bbox overcount, or the element moved away — the caller turns that
    into a departure for snapshot semantics)."""
    ox, oy = tx * EXTENT, ty * EXTENT
    xs = [int(v) - ox for v in f["px"]]
    ys = [int(v) - oy for v in f["py"]]
    gt = f["geomType"]
    tags = dict(f["tags"].asDict())
    try:
        el = f["el_tags"]
    except (KeyError, ValueError):
        el = None
    if el:
        # element tags merge UNDER the __system keys (History.scala:103)
        tags = {**dict(el), **tags}
    if gt == "Point":
        x, y = xs[0], ys[0]
        if not (0 <= x < EXTENT and 0 <= y < EXTENT):
            return None
        return mvt.MvtFeature(
            fid=int(tags["__id"]), geom_type=mvt._GEOM_POINT,
            points=[(x, y)], tags=tags,
        )
    if gt == "Polygon":
        ring = _clip_ring(list(zip(xs, ys)))
        if not ring:
            return None
        return mvt.MvtFeature(
            fid=int(tags["__id"]), geom_type=mvt._GEOM_POLYGON,
            points=[], tags=tags, parts=[ring],
        )
    parts = _clip_polyline(list(zip(xs, ys)))
    if not parts:
        return None
    return mvt.MvtFeature(
        fid=int(tags["__id"]), geom_type=mvt._GEOM_LINESTRING,
        points=[], tags=tags, parts=parts,
    )


def update_tiles(
    diffs: DataFrame,
    root: str,
    schema: str = "snapshot",
    zoom: int | list[int] = 12,
    layer_name: str = "elements",
) -> int:
    """Apply one micro-batch / bounded set of diffs to the tile store under
    `root` using the chosen tile schema. Returns tiles touched.

    `zoom` may be a list (the TileUpdater CLI's min-zoom..max-zoom range,
    updater/TileUpdater.scala:36-50): the per-zoom fan-outs union into ONE
    plan, so all zooms ride a single (zoom, tx, ty) shuffle and one write
    pass — the reference loops updateTiles per zoom and re-reads the diff
    file each time."""
    from osmesa_spark.session import ship_package

    if schema not in SCHEMAS:
        raise ValueError(f"unknown tile schema {schema!r} (have {sorted(SCHEMAS)})")
    ship_package(diffs.sparkSession)
    zooms = [zoom] if isinstance(zoom, int) else sorted(set(zoom))
    if len(zooms) > 1:
        # one consumer per zoom level below — pin the (usually micro-batch
        # sized) diff set so the source parse never re-executes per zoom
        diffs = diffs.localCheckpoint(eager=False)
    keyed = diffs_with_tiles(diffs, zooms[0])
    for z in zooms[1:]:
        keyed = keyed.unionByName(diffs_with_tiles(diffs, z))
    # element tags ride on every feature like the reference's makeFeature
    # (History.scala:86-118); deletes keep their LAST tags — the P7
    # visible/prevTags projection
    if "tags" in keyed.columns:
        if "prevTags" in keyed.columns:
            el_tags = F.when(
                F.coalesce("visible", F.lit(True)), F.col("tags")
            ).otherwise(F.coalesce("prevTags", "tags"))
        else:
            el_tags = F.col("tags")
    else:
        el_tags = F.lit(None).cast("map<string,string>")
    tagged = keyed.select(
        "zoom",
        "tx",
        "ty",
        F.struct(
            "px", "py", "geomType", "sequence",
            el_tags.alias("el_tags"),
            _feature_tags(schema, keyed.columns).alias("tags"),
        ).alias("f"),
    )
    tiles = tagged.groupBy("zoom", "tx", "ty").agg(
        F.collect_list("f").alias("fs")
    )
    apply_fn = SCHEMAS[schema]

    def write_partition(rows):
        for row in rows:
            z, tx, ty = row["zoom"], row["tx"], row["ty"]
            existing_layers = mvt.read_tile(root, z, tx, ty) or {}
            seqs = mvt.committed_sequences(existing_layers)
            updates = []
            batch_seqs = set()
            for f in sorted(
                row["fs"],
                key=lambda f: (
                    str(f["tags"]["__type"]),
                    int(f["tags"]["__id"]),
                    int(f["tags"]["__version"]),
                    int(f["tags"]["__minorVersion"] or 0),
                ),
            ):
                if f["sequence"] in seqs:
                    continue  # idempotent re-delivery
                batch_seqs.add(int(f["sequence"]))
                feat = _tile_local_feature(f, int(tx), int(ty))
                if feat is None:
                    # bbox overcount, or the element's current geometry
                    # left this tile (it was fanned here via prevGeom) —
                    # a DEPARTURE: snapshot drops the element from the
                    # tile; history/urchn keep the last state it had here
                    if schema == "snapshot":
                        tags = dict(f["tags"].asDict())
                        tags["__visible"] = False
                        updates.append(
                            mvt.MvtFeature(
                                fid=int(tags["__id"]), geom_type=1,
                                points=[(0, 0)], tags=tags,
                            )
                        )
                    continue
                updates.append(feat)
            if not updates:
                continue
            merged = apply_fn(existing_layers.get(layer_name, []), updates)
            layers = {
                # StrictLayer write order: points, lines, polygons
                # (area-descending) — GenerateVT.scala:255-256
                layer_name: mvt.layer_feature_order(merged),
                mvt.SEQUENCES_LAYER: mvt._sequence_layer(
                    seqs + sorted(batch_seqs)
                ),
            }
            payload = gzip.compress(mvt.encode_tile(layers, EXTENT))
            from osmesa_spark.sources.objectstore import join_key, open_store

            store, prefix = open_store(root)
            store.put(
                join_key(prefix, mvt._tile_key(z, tx, ty)),
                payload,
                content_encoding="gzip",
            )

    tiles.foreachPartition(write_partition)
    return tiles.count()


def run_streaming_element_tiles(
    diffs_stream: DataFrame,
    root: str,
    checkpoint_dir: str,
    schema: str = "snapshot",
    zoom: int | list[int] = 12,
    layer_name: str = "elements",
):
    """Streaming twin of the TileUpdater batch CLI: attach the per-element
    tile upsert as a foreachBatch sink on an augmented-diff stream (the
    reference loops the CLI off the replication poller; committed-sequence
    idempotence makes micro-batch retries and replays no-ops). Returns
    the StreamingQuery."""

    def sink(batch: DataFrame, epoch_id: int) -> None:
        if batch.isEmpty():
            return
        update_tiles(
            batch, root, schema=schema, zoom=zoom, layer_name=layer_name
        )

    return (
        diffs_stream.writeStream.outputMode("append")
        .option("checkpointLocation", checkpoint_dir)
        .foreachBatch(sink)
        .start()
    )


# ---------------------------------------------------------------------------
# GenerateVT-parity geometry vector tiles (bm/GenerateVT.scala:120-261)
# ---------------------------------------------------------------------------

def geometry_tile_cover(
    df: DataFrame,
    zoom: int,
    id_col: str = "id",
    geom_col: str = "geom",
    geom_type_col: str = "geomType",
) -> DataFrame:
    """(id, geomType, geom) rows → one row per covering (zoom, tx, ty)
    with global pixel arrays — `GenerateVT.keyToLayout`'s
    keysForGeometry fan-out as pure Column bbox math (the per-tile exact
    intersection happens in the encode kernel, exactly like
    `timedIntersect` runs per SpatialKey in the reference)."""
    base = df.where(F.size(geom_col) >= 1)
    px, py = _pixel_arrays(geom_col, zoom)
    ext = F.lit(EXTENT).cast("bigint")
    g = base.select(
        F.col(id_col).alias("id"),
        F.col(geom_type_col).alias("geomType"),
        px.alias("px"),
        py.alias("py"),
        (F.array_min(px) / ext).cast("bigint").alias("txmin"),
        (F.array_max(px) / ext).cast("bigint").alias("txmax"),
        (F.array_min(py) / ext).cast("bigint").alias("tymin"),
        (F.array_max(py) / ext).cast("bigint").alias("tymax"),
    )
    return g.select(
        F.lit(zoom).alias("zoom"),
        F.explode(F.sequence("txmin", "txmax")).alias("tx"),
        "*",
    ).select(
        "zoom",
        "tx",
        F.explode(F.sequence("tymin", "tymax")).alias("ty"),
        "id",
        "geomType",
        "px",
        "py",
    )


def generate_geometry_vt(
    df: DataFrame,
    zoom: int,
    layer_name: str = "features",
    id_col: str = "id",
    geom_col: str = "geom",
    geom_type_col: str = "geomType",
    gzip_bytes: bool = True,
) -> DataFrame:
    """Encode lon/lat geometries (Point | LineString | Polygon) into one
    MVT per covering tile at `zoom` — the GenerateVT.makeVectorTiles path
    (bm/GenerateVT.scala:120-261) on the DataFrame plan: bbox fan-out,
    per-tile clip (the reference's timedIntersect), StrictLayer feature
    order with polygons area-descending (GenerateVT.scala:255-256), one
    Arrow-batched codec kernel. Returns (zoom, tx, ty, data binary) —
    feed `save_tiles_in_zips` / `save_pyramid_in_zips`."""
    import io as _io

    from pyspark.sql import types as T

    from osmesa_spark.session import ship_package

    ship_package(df.sparkSession)
    keyed = geometry_tile_cover(
        df, zoom, id_col=id_col, geom_col=geom_col,
        geom_type_col=geom_type_col,
    )
    grouped = keyed.select(
        "zoom", "tx", "ty",
        F.struct("id", "geomType", "px", "py").alias("f"),
    ).groupBy("zoom", "tx", "ty").agg(F.collect_list("f").alias("fs"))
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
                tx, ty = int(row["tx"]), int(row["ty"])
                feats = []
                for f in row["fs"]:
                    feat = _tile_local_feature(
                        {
                            "px": f["px"],
                            "py": f["py"],
                            "geomType": f["geomType"],
                            "tags": _Tags({"__id": int(f["id"])}),
                        },
                        tx,
                        ty,
                    )
                    if feat is not None:
                        feats.append(feat)
                if not feats:
                    continue
                buf = mvt.encode_tile(
                    {layer_name: mvt.layer_feature_order(feats)}
                )
                if gzip_bytes:
                    bio = _io.BytesIO()
                    with gzip.GzipFile(fileobj=bio, mode="wb", mtime=0) as gz:
                        gz.write(buf)
                    buf = bio.getvalue()
                out.append(
                    {"zoom": int(row["zoom"]), "tx": tx, "ty": ty, "data": buf}
                )
            yield pd.DataFrame(
                out, columns=["zoom", "tx", "ty", "data"]
            )

    return grouped.mapInPandas(encode_batch, schema=schema)


class _Tags:
    """Row-like shim so `_tile_local_feature` (written for grouped Row
    structs with .asDict()) also accepts plain dict tags."""

    def __init__(self, d: dict):
        self._d = d

    def asDict(self) -> dict:
        return dict(self._d)
