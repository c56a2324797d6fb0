"""Shipped S3 adapter for the snapshot filesystem seam (r12).

The reference's lake lives on S3 (``infrastructure/ecs_stack.py:357-365``,
``service/app/main.py:139-170`` get/put the bags and parquet through
boto3); this engine's snapshot stack reaches object stores through ONE
seam, :func:`..sources.spark_source.register_snapshot_filesystem` —
the adapter protocol (open_in/write_bytes/listdir/exists/getsize/
create_exclusive/replace_bytes/delete/delete_tree) that every
manifest, segment, ref and data-file write of the library and the
``snapshot`` data source goes through.

:class:`S3SnapshotAdapter` implements it over boto3, behind the same
optional-import discipline as the Pillow/PyAV/zstandard seams:
importing this module never needs boto3; constructing an adapter
without a client does, and fails loudly naming the package. Everything
here speaks the public S3 API only — ``put_object(IfNoneMatch="*")``
is the service-side atomic create-if-absent that makes
``create_exclusive``, and with it the manifest CAS, real (no
HEAD-then-PUT race).

The adapter is picklable (executors re-create the client lazily from a
zero-arg ``client_factory``); tests inject an in-process fake client and
run the exact mock-scheme contract matrix against it — no network.
"""

from __future__ import annotations

import io

__all__ = ["S3SnapshotAdapter"]


def _boto3_client():
    """Default client factory — the optional-import seam."""
    try:
        import boto3
    except ImportError as e:                      # pragma: no cover
        raise ImportError(
            "S3SnapshotAdapter needs boto3 (pip install boto3), or "
            "pass client=/client_factory= explicitly") from e
    return boto3.client("s3")


def _err_code(e) -> str:
    """Status/code of a botocore ClientError-shaped exception, ''
    otherwise (duck-typed so fake clients can raise the real class
    or anything carrying .response)."""
    r = getattr(e, "response", None)
    if not isinstance(r, dict):
        return ""
    code = str((r.get("Error") or {}).get("Code") or "")
    http = (r.get("ResponseMetadata") or {}).get("HTTPStatusCode")
    return code or (str(http) if http is not None else "")


_MISSING = {"404", "NoSuchKey", "NotFound"}
_EXISTS = {"412", "409", "PreconditionFailed", "ConditionalRequestConflict"}


class S3SnapshotAdapter:
    """The snapshot filesystem adapter protocol over the S3 API.

    ``register_snapshot_filesystem("s3a", S3SnapshotAdapter())`` makes
    ``s3a://bucket/table`` paths first-class for the snapshot library
    (:mod:`..sources.snapshots`), the ``snapshot`` Python data source
    and :func:`..sources.spark_source.register_snapshot_table`
    (``export_path`` mode). Register in every process that
    touches the store (driver AND executors) — the adapter pickles by
    shipping only its zero-arg ``client_factory`` and re-creating the
    boto3 client on first use in each process.

    ``open_in`` buffers the full object (seekable contract); manifest
    and ref JSONs are tiny, and the data-file reads the snapshot
    reader performs are whole-file parquet reads anyway. ``listdir``
    is one level (``Delimiter='/'``), paginated. ``create_exclusive``
    is a REAL conditional PUT (``IfNoneMatch='*'``) — the atomic
    create-if-absent the manifest CAS requires; racing losers get
    ``FileExistsError`` exactly like the local ``link(2)`` path. S3
    may answer a PUT racing another conditional PUT with 409
    ``ConditionalRequestConflict`` before either lands; that maps to
    ``FileExistsError`` too, and :func:`..sources.snapshots
    .snapshot_append` retries the same version after a backoff.
    """

    def __init__(self, client=None, client_factory=None):
        if client is not None and client_factory is not None:
            raise ValueError("pass at most one of client, client_factory")
        self._client = client
        self._injected = client is not None
        self._factory = client_factory or _boto3_client

    # -- plumbing ---------------------------------------------------
    def _c(self):
        if self._client is None:
            self._client = self._factory()
        return self._client

    def __getstate__(self):
        if self._injected:
            # a directly-injected client (tests) can't cross
            # processes; a client the FACTORY created lazily is just
            # dropped — the other side rebuilds it (r12 review fix:
            # the old check misread any used default-constructed
            # adapter as 'injected')
            raise TypeError(
                "S3SnapshotAdapter with an injected client is not "
                "picklable — construct with client_factory= instead")
        return {"_factory": self._factory, "_client": None,
                "_injected": False}

    def __setstate__(self, state):
        self._factory = state["_factory"]
        self._client = None
        self._injected = False

    @staticmethod
    def _split(path: str) -> tuple[str, str]:
        i = path.find("://")
        if i <= 0:
            raise ValueError(f"not a schemed object-store path: {path!r}")
        rest = path[i + 3:]
        bucket, _, key = rest.partition("/")
        if not bucket:
            raise ValueError(f"no bucket in {path!r}")
        return bucket, key

    # -- adapter protocol -------------------------------------------
    def open_in(self, path: str):
        bucket, key = self._split(path)
        try:
            body = self._c().get_object(Bucket=bucket, Key=key)["Body"]
        except Exception as e:
            if _err_code(e) in _MISSING:
                raise FileNotFoundError(path) from e
            raise
        return io.BytesIO(body.read())

    def write_bytes(self, path: str, data: bytes) -> None:
        bucket, key = self._split(path)
        self._c().put_object(Bucket=bucket, Key=key, Body=bytes(data))

    def replace_bytes(self, path: str, data: bytes) -> None:
        # S3 PUT is replace — same call, kept separate for the protocol
        self.write_bytes(path, data)

    def create_exclusive(self, path: str, data: bytes) -> None:
        bucket, key = self._split(path)
        try:
            self._c().put_object(Bucket=bucket, Key=key,
                                 Body=bytes(data), IfNoneMatch="*")
        except Exception as e:
            if _err_code(e) in _EXISTS:
                raise FileExistsError(path) from e
            raise

    def listdir(self, path: str) -> list[str]:
        bucket, key = self._split(path)
        prefix = key.rstrip("/") + "/" if key else ""
        names: set[str] = set()
        token = None
        while True:
            kw = {"Bucket": bucket, "Prefix": prefix, "Delimiter": "/"}
            if token:
                kw["ContinuationToken"] = token
            resp = self._c().list_objects_v2(**kw)
            for o in resp.get("Contents") or []:
                n = o["Key"][len(prefix):]
                if n:
                    names.add(n)
            for p in resp.get("CommonPrefixes") or []:
                names.add(p["Prefix"][len(prefix):].rstrip("/"))
            if not resp.get("IsTruncated"):
                break
            token = resp.get("NextContinuationToken")
        return sorted(names)

    def exists(self, path: str) -> bool:
        bucket, key = self._split(path)
        try:
            self._c().head_object(Bucket=bucket, Key=key)
            return True
        except Exception as e:
            if _err_code(e) not in _MISSING:
                raise
        # pseudo-directory: any key under the prefix counts; the
        # bucket root (empty key) must probe prefix "" — '' .rstrip
        # + '/' would be '/', which matches no real keys (r13 fix,
        # mirrors listdir's guard)
        prefix = key.rstrip("/") + "/" if key else ""
        resp = self._c().list_objects_v2(Bucket=bucket, Prefix=prefix,
                                         MaxKeys=1)
        return bool(resp.get("KeyCount") or resp.get("Contents"))

    def getsize(self, path: str) -> int:
        bucket, key = self._split(path)
        try:
            return int(self._c().head_object(
                Bucket=bucket, Key=key)["ContentLength"])
        except Exception as e:
            if _err_code(e) in _MISSING:
                raise FileNotFoundError(path) from e
            raise

    def delete(self, path: str) -> None:
        bucket, key = self._split(path)
        try:
            self._c().delete_object(Bucket=bucket, Key=key)
        except Exception as e:                    # best-effort contract
            if _err_code(e) not in _MISSING:
                raise

    def delete_tree(self, path: str) -> None:
        bucket, key = self._split(path)
        prefix = key.rstrip("/") + "/"
        token = None
        while True:
            kw = {"Bucket": bucket, "Prefix": prefix}
            if token:
                kw["ContinuationToken"] = token
            resp = self._c().list_objects_v2(**kw)
            keys = [{"Key": o["Key"]} for o in resp.get("Contents") or []]
            if keys:
                self._c().delete_objects(Bucket=bucket,
                                         Delete={"Objects": keys})
            if not resp.get("IsTruncated"):
                break
            token = resp.get("NextContinuationToken")
