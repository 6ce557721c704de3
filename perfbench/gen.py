"""Seeded input generators for the benchmark workloads.

Every generator is pure Python + pyarrow and depends only on its seed and
size arguments: the same seed writes byte-identical files, another seed
writes different ones. The program under test only ever sees the files.

Each (workload, seed) pair writes into its own directory, so a path-keyed
memo inside the program can never serve one seed's schema or data for
another seed's path.
"""

from __future__ import annotations

import json
import math
import os
import random
import shutil
from datetime import datetime, timedelta, timezone

import pyarrow as pa
import pyarrow.parquet as pq

T0 = datetime(2023, 1, 1, tzinfo=timezone.utc)

TAG_POOL = [
    ("building", ["yes", "house", "apartments", "no"]),
    ("highway", ["residential", "primary", "service", "footway"]),
    ("waterway", ["river", "stream", "canal", "ditch"]),
    ("natural", ["coastline", "wood", "water"]),
    ("landuse", ["residential", "forest", "farmland"]),
    ("railway", ["rail", "station", "station;yard"]),
    ("amenity", ["school", "cafe"]),
    ("shop", ["bakery"]),
    ("leisure", ["park"]),
    ("name", ["alpha", "beta", "gamma"]),
]
EDITORS = ["iD 2.19", "JOSM/1.5", "Potlatch 2", "StreetComplete 40"]
HASHTAGS = ["hotosm", "missingmaps", "mapathon", "osmgeoweek", "visa1",
            "youthmappers", "mapimpact", "ridethemap"]

HISTORY_SCHEMA = pa.schema([
    ("id", pa.int64()),
    ("type", pa.string()),
    ("tags", pa.map_(pa.string(), pa.string())),
    ("lat", pa.float64()),
    ("lon", pa.float64()),
    ("nds", pa.list_(pa.int64())),
    ("members", pa.list_(pa.struct(
        [("type", pa.string()), ("ref", pa.int64()), ("role", pa.string())]
    ))),
    ("changeset", pa.int64()),
    ("timestamp", pa.timestamp("us", tz="UTC")),
    ("uid", pa.int64()),
    ("user", pa.string()),
    ("version", pa.int32()),
    ("visible", pa.bool_()),
])

CHANGESETS_SCHEMA = pa.schema([
    ("id", pa.int64()),
    ("tags", pa.map_(pa.string(), pa.string())),
    ("createdAt", pa.timestamp("us", tz="UTC")),
    ("open", pa.bool_()),
    ("closedAt", pa.timestamp("us", tz="UTC")),
    ("commentsCount", pa.int32()),
    ("minLat", pa.float64()),
    ("maxLat", pa.float64()),
    ("minLon", pa.float64()),
    ("maxLon", pa.float64()),
    ("numChanges", pa.int32()),
    ("uid", pa.int64()),
    ("user", pa.string()),
    ("comments", pa.list_(pa.struct([
        ("date", pa.timestamp("us", tz="UTC")),
        ("user", pa.string()),
        ("uid", pa.int64()),
        ("body", pa.string()),
    ]))),
    ("sequence", pa.int32()),
])


def _table(rows: list[dict], schema: pa.Schema) -> pa.Table:
    cols = {}
    for f in schema:
        vals = [r.get(f.name) for r in rows]
        if pa.types.is_map(f.type):
            vals = [list(v.items()) if v is not None else None for v in vals]
        cols[f.name] = pa.array(vals, type=f.type)
    return pa.table(cols, schema=schema)


def _tags(rng: random.Random, n: int) -> dict:
    tags = {}
    for _ in range(n):
        k, vs = rng.choice(TAG_POOL)
        tags[k] = rng.choice(vs)
    return tags


def write_history(out_dir: str, n_elements: int, seed: int) -> dict:
    """OSM history + changesets in the `history` / `changesets` table shape.

    Nodes cluster around a dozen seed-chosen map areas spread over the
    world, so the 311-country geocode resolves many countries. Ways pick
    node refs from one area and are closed (polygons) 30% of the time.
    Changesets carry hashtags in comments and in the `hashtags` tag."""
    rng = random.Random(seed)
    n_nodes = int(n_elements * 0.85)
    n_ways = n_elements - n_nodes
    n_cs = max(10, n_elements // 12)
    areas = [(rng.uniform(-160, 160), rng.uniform(-60, 60)) for _ in range(12)]
    rows: list[dict] = []
    area_nodes: list[list[int]] = [[] for _ in areas]
    for nid in range(1, n_nodes + 1):
        a = rng.randrange(len(areas))
        area_nodes[a].append(nid)
        cx, cy = areas[a]
        lon, lat = round(cx + rng.gauss(0, 3), 7), round(cy + rng.gauss(0, 2), 7)
        tags = _tags(rng, rng.randint(1, 3)) if rng.random() < 0.4 else {}
        uid = rng.randint(2, 120)
        base = rng.uniform(0, 200_000)
        n_versions = rng.choices([1, 2, 3, 4], weights=[45, 30, 15, 10])[0]
        for v in range(1, n_versions + 1):
            rows.append({
                "id": nid, "type": "node", "tags": tags,
                "lat": None if rng.random() < 0.01 else lat + 0.0001 * v,
                "lon": lon + 0.0001 * v,
                "changeset": rng.randint(1, n_cs),
                "timestamp": T0 + timedelta(minutes=base + 500 * v),
                "uid": uid, "user": f"user_{uid}", "version": v,
                "visible": not (v == n_versions and rng.random() < 0.05),
            })
    for i in range(n_ways):
        wid = 10_000_001 + i
        pool = area_nodes[rng.randrange(len(areas))] or [1]
        nds = rng.sample(pool, min(rng.randint(2, 10), len(pool)))
        closed = rng.random() < 0.3
        if closed:
            nds = nds + [nds[0]]
        tags = _tags(rng, 1)
        if closed and rng.random() < 0.5:
            tags["building"] = "yes"
        uid = rng.randint(2, 120)
        base = rng.uniform(0, 200_000)
        n_versions = rng.choices([1, 2, 3], weights=[50, 30, 20])[0]
        for v in range(1, n_versions + 1):
            rows.append({
                "id": wid, "type": "way", "tags": tags, "nds": nds,
                "changeset": rng.randint(1, n_cs),
                "timestamp": T0 + timedelta(minutes=base + 700 * v + 100),
                "uid": uid, "user": f"user_{uid}", "version": v,
                "visible": not (v == n_versions and rng.random() < 0.05),
            })
    changesets = []
    for cs in range(1, n_cs + 1):
        uid = rng.randint(2, 120)
        created = T0 + timedelta(minutes=rng.uniform(0, 200_000))
        is_open = rng.random() < 0.02
        words = " ".join(f"#{rng.choice(HASHTAGS)}" for _ in range(rng.randint(0, 3)))
        tags = {"created_by": rng.choice(EDITORS),
                "comment": f"edited stuff {words}".strip()}
        if rng.random() < 0.3:
            tags["hashtags"] = ";".join(rng.sample(HASHTAGS, rng.randint(1, 2)))
        changesets.append({
            "id": cs, "tags": tags, "createdAt": created, "open": is_open,
            "closedAt": None if is_open else created + timedelta(minutes=rng.uniform(1, 1440)),
            "commentsCount": rng.randint(0, 3), "numChanges": 0,
            "uid": uid, "user": f"user_{uid}", "sequence": rng.randint(1, 100),
        })
    os.makedirs(out_dir, exist_ok=True)
    pq.write_table(_table(rows, HISTORY_SCHEMA), os.path.join(out_dir, "history.parquet"))
    pq.write_table(_table(changesets, CHANGESETS_SCHEMA),
                   os.path.join(out_dir, "changesets.parquet"))
    return {"history_rows": len(rows), "changesets": len(changesets)}


# ---------------------------------------------------------------------------
# minutely replication feed
# ---------------------------------------------------------------------------

FIRST_SEQUENCE = 1000
FEED_TAGS = [("building", "yes"), ("highway", "residential"), ("waterway", "river"),
             ("natural", "coastline"), ("amenity", "cafe"), ("landuse", "farmland")]
CHANGESETS_PER_SEQUENCE = 40


def _feed_feature(rng: random.Random, seq: int) -> dict:
    """One flattened augmented-diff row. Changeset ids advance with the
    sequence: most edits open a changeset of this sequence's block, the
    rest continue one of the previous three sequences' changesets."""
    block = seq if rng.random() < 0.8 else max(FIRST_SEQUENCE, seq - rng.randint(1, 3))
    changeset = block * CHANGESETS_PER_SEQUENCE + rng.randrange(CHANGESETS_PER_SEQUENCE)
    version = rng.randint(1, 4)
    visible = rng.random() > 0.05
    lon, lat = rng.uniform(-10, 10), rng.uniform(-10, 10)
    kind = rng.random()
    tags = dict([rng.choice(FEED_TAGS)])
    if kind < 0.12:
        w, h = rng.uniform(0.002, 0.01), rng.uniform(0.002, 0.01)
        ring = [(lon, lat), (lon + w, lat), (lon + w, lat + h), (lon, lat + h), (lon, lat)]
        geom = [{"lon": x, "lat": y} for x, y in ring]
        prev = [{"lon": lon + (p["lon"] - lon) * 0.8, "lat": lat + (p["lat"] - lat) * 0.8}
                for p in geom] if version > 1 else None
        etype, gtype = "way", "Polygon"
        tags = {"landuse": "farmland"}
    elif kind < 0.3:
        geom = [{"lon": lon + 0.001 * k, "lat": lat + 0.0005 * k}
                for k in range(rng.randint(2, 6))]
        prev = [{"lon": p["lon"] - 0.002, "lat": p["lat"]} for p in geom] if version > 1 else None
        etype, gtype = "way", "LineString"
    else:
        geom = [{"lon": lon, "lat": lat}]
        prev = [{"lon": lon - 0.001, "lat": lat}] if version > 1 else None
        etype, gtype = "node", "Point"
    uid = rng.randint(2, 300)
    return {
        "sequence": seq, "id": rng.randint(1, 1_000_000), "type": etype,
        "version": version, "minorVersion": 0,
        "updated": (T0 + timedelta(minutes=seq)).isoformat(),
        "visible": visible, "tags": tags,
        "prevTags": tags if version > 1 else None,
        "changeset": changeset, "uid": uid, "user": f"user_{uid}",
        "geomType": gtype, "geom": geom, "prevGeom": prev,
    }


def write_feed(out_dir: str, n_sequences: int, per_seq: int, seed: int,
               corrupt_every: int = 97) -> dict:
    """Augmented-diff sequences FIRST_SEQUENCE.. as `<sequence>.jsonl` files
    in `out_dir` (a staging directory: the workload moves them into the
    stream's drop-dir on its own schedule). Every `corrupt_every`-th line is
    an unparseable record, each one distinct so none is deduplicated.

    Returns per-sequence facts the output checks need: corrupt line count
    and the distinct changeset ids of tagged features."""
    rng = random.Random(seed * 7919 + 3)
    os.makedirs(out_dir, exist_ok=True)
    facts = {}
    total = 0
    for seq in range(FIRST_SEQUENCE, FIRST_SEQUENCE + n_sequences):
        lines, corrupt, changesets = [], 0, set()
        for _ in range(per_seq):
            f = _feed_feature(rng, seq)
            changesets.add(f["changeset"])
            lines.append(json.dumps(f))
            total += 1
            if total % corrupt_every == 0:
                lines.append('{"sequence": %d, "id": BROKEN-%d' % (seq, total))
                corrupt += 1
        with open(os.path.join(out_dir, f"{seq}.jsonl"), "w") as fh:
            fh.write("\n".join(lines) + "\n")
        facts[seq] = {"corrupt": corrupt, "changesets": sorted(changesets)}
    with open(os.path.join(out_dir, "facts.json"), "w") as fh:
        json.dump(facts, fh)
    return facts


# ---------------------------------------------------------------------------
# LLM-data corpus
# ---------------------------------------------------------------------------

LANGS = (("en", 5), ("de", 2), ("fr", 2), ("es", 2), ("zh", 1))


def _vocabulary(rng: random.Random, n: int = 400) -> list[str]:
    letters = "abcdefghijklmnopqrstuvwxyz"
    words = set()
    while len(words) < n:
        words.add("".join(rng.choice(letters) for _ in range(rng.randint(2, 9))))
    return sorted(words)


def write_corpus(out_dir: str, n_docs: int, n_vectors: int, seed: int,
                 dim: int = 64, n_clusters: int = 10) -> dict:
    """`documents` and `embeddings` tables in the registry's table shape.

    Documents draw Zipf-weighted words from a seeded vocabulary; about a
    fifth are near-duplicates of an earlier document (a few words
    replaced and a marker word spliced in), so the dedup graph has real
    multi-member components. Embeddings are jittered points around
    `n_clusters` random unit centres, labelled by centre."""
    rng = random.Random(seed * 104729 + 11)
    vocab = _vocabulary(rng)
    weights = [1.0 / (i + 1) for i in range(len(vocab))]
    langs = [l for l, _ in LANGS]
    lang_w = [w for _, w in LANGS]
    docs = []
    for doc_id in range(n_docs):
        if docs and rng.random() < 0.2:
            base = rng.choice(docs)
            words = base["text"].split(" ")
            for _ in range(max(1, len(words) // 25)):
                words[rng.randrange(len(words))] = rng.choice(vocab)
            words.insert(rng.randrange(len(words)), "dup")
            lang, source = base["lang"], base["source"]
        else:
            words = rng.choices(vocab, weights=weights, k=rng.randint(15, 90))
            lang = rng.choices(langs, weights=lang_w)[0]
            source = f"src{rng.randrange(20)}"
        text = " ".join(words)
        docs.append({"doc_id": doc_id, "text": text, "lang": lang,
                     "source": source, "n_chars": len(text)})
    centres = []
    for _ in range(n_clusters):
        c = [rng.gauss(0, 1) for _ in range(dim)]
        norm = math.sqrt(sum(x * x for x in c))
        centres.append([x / norm for x in c])
    # vectors come in groups of 6 near-copies of one point of a cluster,
    # so each vector's exact top-5 neighbours are its siblings; ids are
    # dealt round-robin over the groups, so the low ids a recall query
    # samples come from different groups
    groups, n = [], 0
    while n < n_vectors:
        label = rng.randrange(n_clusters)
        point = [c + rng.gauss(0, 0.08) for c in centres[label]]
        members = [[x + rng.gauss(0, 0.002) for x in point]
                   for _ in range(min(6, n_vectors - n))]
        groups.append((label, members))
        n += len(members)
    vecs, labels = [], []
    for k in range(6):
        for label, members in groups:
            if k < len(members):
                vecs.append(members[k])
                labels.append(label)
    os.makedirs(out_dir, exist_ok=True)
    pq.write_table(pa.table({
        "doc_id": pa.array([d["doc_id"] for d in docs], pa.int64()),
        "text": pa.array([d["text"] for d in docs], pa.string()),
        "lang": pa.array([d["lang"] for d in docs], pa.string()),
        "source": pa.array([d["source"] for d in docs], pa.string()),
        "n_chars": pa.array([d["n_chars"] for d in docs], pa.int64()),
    }), os.path.join(out_dir, "documents.parquet"))
    pq.write_table(pa.table({
        "vec_id": pa.array(range(n_vectors), pa.int64()),
        "embedding": pa.array(vecs, pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    }), os.path.join(out_dir, "embeddings.parquet"))
    return {"documents": n_docs, "embeddings": n_vectors}


def _source_digest(depends=()) -> str:
    """Digest of the files that decide what a cached input holds: the
    generators, the workload code that derives expected values from them,
    and any program file a generator is taken from."""
    import hashlib

    h = hashlib.sha256()
    here = os.path.dirname(os.path.abspath(__file__))
    for path in (os.path.join(here, "gen.py"), os.path.join(here, "workloads.py"), *depends):
        with open(path, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:12]


def cached(root: str, key: str, make, depends=()) -> tuple[str, bool]:
    """Return the cache directory for `key`, running `make(tmp_dir)` first
    when it is absent. The key is suffixed with a digest of the generator
    sources and of the files in `depends`, so editing a generator never
    serves inputs it would no longer write. The directory appears
    atomically (written under a temporary name and renamed), so an
    interrupted run never leaves a half-written input. The flag says
    whether this call generated it."""
    final = os.path.join(root, f"{key}-g{_source_digest(depends)}")
    if os.path.isdir(final):
        return final, False
    tmp = f"{final}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    make(tmp)
    os.replace(tmp, final)
    return final, True
