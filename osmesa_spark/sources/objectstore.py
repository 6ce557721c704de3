"""Object-store IO seam: scheme-dispatched byte stores for tile / resource
IO, mirroring the reference's URI-dispatched read/write
(`src/analytics/src/main/scala/osmesa/analytics/updater/package.scala:36-176`):

  * `read`: missing key → None (NoSuchKey); other failures raise — the
    reference treats them as fatal because silently treating a tile as
    absent "has the potential to corrupt the tileset".
  * `write`: bytes + optional Content-Encoding metadata (the reference gzips
    vector tiles itself and labels the object `Content-Encoding: gzip`,
    package.scala:160-180); the store carries the metadata, it does not
    re-compress.

Backends:
  * `LocalStore` — filesystem; atomic tmp+rename writes; keeps no
    metadata (file:// ignores encoding in the reference too): `encoding`
    reads "gzip" off the stored bytes' magic, so any store opened on the
    root reports it.
  * `MemStore` — named in-memory buckets for tests (moto-style). Lives in
    the creating process only: fine for driver-side unit tests, NOT visible
    across Spark Python workers — use file:// or s3:// for executor writes.
  * `S3Store` — boto3-backed, honestly gated behind an import-try (boto3 is
    not in this container); sets ContentEncoding on put, maps NoSuchKey to
    None on get.

`open_store(uri)` returns `(store, key_prefix)` so callers can route any
`file://`, `mem://`, `s3://`, or bare-path root through one code path.
"""

from __future__ import annotations

import gzip
import os
from urllib.parse import unquote, urlparse

try:  # pragma: no cover - not installed in this container
    import boto3  # noqa: F401

    HAVE_BOTO3 = True
except Exception:  # pragma: no cover
    HAVE_BOTO3 = False


def _is_gzip(raw: bytes) -> bool:
    return raw[:2] == b"\x1f\x8b"


class ObjectStore:
    """get/put/exists/list over opaque byte objects."""

    def get(self, key: str) -> bytes | None:
        raise NotImplementedError

    def put(
        self, key: str, data: bytes, content_encoding: str | None = None
    ) -> None:
        raise NotImplementedError

    def exists(self, key: str) -> bool:
        return self.get(key) is not None

    def list(self, prefix: str = "") -> list[str]:
        raise NotImplementedError

    def encoding(self, key: str) -> str | None:
        """Content-Encoding metadata recorded at put time (None if absent
        or the backend cannot track it)."""
        return None

    def get_decoded(self, key: str) -> bytes | None:
        """get + transparent gunzip of a gzip object (a `gzip` label always
        sits on gzip bytes, so the magic decides) — what an HTTP tile
        client does."""
        raw = self.get(key)
        if raw is None:
            return None
        return gzip.decompress(raw) if _is_gzip(raw) else raw


class LocalStore(ObjectStore):
    def __init__(self, root: str):
        self.root = root

    def _path(self, key: str) -> str:
        return os.path.join(self.root, key)

    def get(self, key: str) -> bytes | None:
        p = self._path(key)
        if not os.path.exists(p):
            return None
        with open(p, "rb") as fh:
            return fh.read()

    def put(
        self, key: str, data: bytes, content_encoding: str | None = None
    ) -> None:
        p = self._path(key)
        os.makedirs(os.path.dirname(p), exist_ok=True)
        tmp = p + ".tmp"
        with open(tmp, "wb") as fh:
            fh.write(data)
        os.replace(tmp, p)  # readers never observe partial tiles

    def list(self, prefix: str = "") -> list[str]:
        out = []
        base = self.root
        for dirpath, _, files in os.walk(base):
            for f in files:
                if f.endswith(".tmp"):
                    continue
                rel = os.path.relpath(os.path.join(dirpath, f), base)
                key = rel.replace(os.sep, "/")
                if key.startswith(prefix):
                    out.append(key)
        return sorted(out)

    def encoding(self, key: str) -> str | None:
        return "gzip" if _is_gzip(self.get(key) or b"") else None


class MemStore(ObjectStore):
    """Named in-memory buckets (moto-style fake). Process-local."""

    _buckets: dict[str, dict[str, tuple[bytes, str | None]]] = {}

    def __init__(self, bucket: str):
        self.bucket = bucket
        self._objs = MemStore._buckets.setdefault(bucket, {})

    def get(self, key: str) -> bytes | None:
        hit = self._objs.get(key)
        return None if hit is None else hit[0]

    def put(
        self, key: str, data: bytes, content_encoding: str | None = None
    ) -> None:
        self._objs[key] = (bytes(data), content_encoding)

    def list(self, prefix: str = "") -> list[str]:
        return sorted(k for k in self._objs if k.startswith(prefix))

    def encoding(self, key: str) -> str | None:
        hit = self._objs.get(key)
        return None if hit is None else hit[1]

    @classmethod
    def wipe(cls, bucket: str) -> None:
        cls._buckets.pop(bucket, None)


class S3Store(ObjectStore):
    """boto3-backed store (updater/package.scala:36-66, 130-156 semantics:
    NoSuchKey → None, other errors fatal, ContentEncoding on put)."""

    def __init__(self, bucket: str):
        if not HAVE_BOTO3:  # pragma: no cover - honest dependency gate
            raise ImportError(
                "S3Store requires boto3, which is not available in this "
                "environment; use file:// or mem:// roots, or install boto3"
            )
        import boto3

        self.bucket = bucket
        self._s3 = boto3.client("s3")

    def get(self, key: str) -> bytes | None:  # pragma: no cover - needs S3
        try:
            return self._s3.get_object(Bucket=self.bucket, Key=key)[
                "Body"
            ].read()
        except self._s3.exceptions.NoSuchKey:
            return None

    def put(
        self, key: str, data: bytes, content_encoding: str | None = None
    ) -> None:  # pragma: no cover - needs S3
        kw = {"Bucket": self.bucket, "Key": key, "Body": data}
        if content_encoding is not None:
            kw["ContentEncoding"] = content_encoding
        self._s3.put_object(**kw)

    def list(self, prefix: str = "") -> list[str]:  # pragma: no cover
        keys, token = [], None
        while True:
            kw = {"Bucket": self.bucket, "Prefix": prefix}
            if token:
                kw["ContinuationToken"] = token
            resp = self._s3.list_objects_v2(**kw)
            keys += [o["Key"] for o in resp.get("Contents", [])]
            if not resp.get("IsTruncated"):
                return sorted(keys)
            token = resp.get("NextContinuationToken")

    def encoding(self, key: str) -> str | None:  # pragma: no cover
        try:
            head = self._s3.head_object(Bucket=self.bucket, Key=key)
        except Exception:
            return None
        return head.get("ContentEncoding")


def open_store(uri: str) -> tuple[ObjectStore, str]:
    """Scheme dispatch: `s3://bucket/prefix`, `mem://bucket/prefix`,
    `file:///path`, or a bare filesystem path. Returns (store, key prefix
    inside the store)."""
    parsed = urlparse(uri)
    if parsed.scheme == "s3":
        return S3Store(parsed.netloc), unquote(parsed.path).lstrip("/")
    if parsed.scheme == "mem":
        return MemStore(parsed.netloc), parsed.path.lstrip("/")
    if parsed.scheme == "file":
        return LocalStore(unquote(parsed.path)), ""
    if parsed.scheme in ("", None):
        return LocalStore(uri), ""
    raise ValueError(f"unsupported object-store scheme: {parsed.scheme!r}")


def join_key(prefix: str, *parts: str) -> str:
    segs = [p.strip("/") for p in (prefix, *parts) if p and p.strip("/")]
    return "/".join(segs)
