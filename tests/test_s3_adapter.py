"""Shipped S3 snapshot adapter (r12 — VERDICT r11 item 3).

An in-process fake S3 client (dict of bucket/key -> bytes, honoring
IfNoneMatch, Delimiter, pagination, and raising real botocore
ClientErrors) stands in for the network; the adapter then runs the SAME
contract matrix the mock-scheme adapter runs in test_spark_source.py —
full DS write → commit → read → time travel → tags → streaming-offset
loop — plus the conditional-PUT manifest commit race.
"""

from __future__ import annotations

import json

import pytest
from botocore.exceptions import ClientError

from aws_autonomous_driving_data_lake_ros_bag_scene_detection_pipeline_spark.sources.s3 import (
    S3SnapshotAdapter,
)


def _err(op, code, status):
    return ClientError(
        {"Error": {"Code": code},
         "ResponseMetadata": {"HTTPStatusCode": status}}, op)


class FakeS3Client:
    """The slice of the boto3 S3 client the adapter touches. Keys live
    in a flat dict exactly like S3's keyspace (no directories);
    list_objects_v2 implements Prefix/Delimiter/MaxKeys/continuation
    with a 2-key page size so pagination is actually exercised."""

    PAGE = 2

    def __init__(self):
        self.objects: dict[tuple[str, str], bytes] = {}
        self.calls: list[str] = []

    def put_object(self, Bucket, Key, Body, IfNoneMatch=None):
        self.calls.append("put_object")
        if IfNoneMatch == "*" and (Bucket, Key) in self.objects:
            raise _err("PutObject", "PreconditionFailed", 412)
        self.objects[(Bucket, Key)] = bytes(Body)
        return {}

    def get_object(self, Bucket, Key):
        self.calls.append("get_object")
        try:
            body = self.objects[(Bucket, Key)]
        except KeyError:
            raise _err("GetObject", "NoSuchKey", 404) from None
        import io
        return {"Body": io.BytesIO(body)}

    def head_object(self, Bucket, Key):
        self.calls.append("head_object")
        if (Bucket, Key) not in self.objects:
            raise _err("HeadObject", "404", 404)
        return {"ContentLength": len(self.objects[(Bucket, Key)])}

    def list_objects_v2(self, Bucket, Prefix="", Delimiter=None,
                        MaxKeys=1000, ContinuationToken=None):
        self.calls.append("list_objects_v2")
        keys = sorted(k for b, k in self.objects
                      if b == Bucket and k.startswith(Prefix))
        if ContinuationToken:
            keys = [k for k in keys if k > ContinuationToken]
        contents, prefixes, n = [], [], 0
        page = min(self.PAGE, MaxKeys)
        last = None
        for k in keys:
            if n >= page:
                return {"Contents": contents,
                        "CommonPrefixes": [{"Prefix": p}
                                           for p in prefixes],
                        "IsTruncated": True,
                        "NextContinuationToken": last,
                        "KeyCount": len(contents) + len(prefixes)}
            rest = k[len(Prefix):]
            if Delimiter and Delimiter in rest:
                p = Prefix + rest.split(Delimiter)[0] + Delimiter
                if p not in prefixes:
                    prefixes.append(p)
                    n += 1
            else:
                contents.append({"Key": k})
                n += 1
            last = k
        return {"Contents": contents,
                "CommonPrefixes": [{"Prefix": p} for p in prefixes],
                "IsTruncated": False,
                "KeyCount": len(contents) + len(prefixes)}

    def delete_object(self, Bucket, Key):
        self.calls.append("delete_object")
        self.objects.pop((Bucket, Key), None)
        return {}

    def delete_objects(self, Bucket, Delete):
        self.calls.append("delete_objects")
        for o in Delete["Objects"]:
            self.objects.pop((Bucket, o["Key"]), None)
        return {}


@pytest.fixture()
def s3():
    return FakeS3Client()


@pytest.fixture()
def adapter(s3):
    from aws_autonomous_driving_data_lake_ros_bag_scene_detection_pipeline_spark.sources import (
        register_snapshot_filesystem,
    )
    ad = S3SnapshotAdapter(client=s3)
    register_snapshot_filesystem("s3mock", ad)
    return ad


def test_adapter_protocol_primitives(adapter, s3):
    root = "s3mock://lake-bucket/t"
    adapter.write_bytes(f"{root}/a/x.bin", b"abc")
    adapter.write_bytes(f"{root}/a/y.bin", b"defg")
    adapter.write_bytes(f"{root}/b/z.bin", b"h")
    assert adapter.exists(f"{root}/a/x.bin")
    assert adapter.exists(f"{root}/a")          # pseudo-dir via prefix
    assert not adapter.exists(f"{root}/nope")
    assert adapter.getsize(f"{root}/a/y.bin") == 4
    with adapter.open_in(f"{root}/a/x.bin") as f:
        assert f.read() == b"abc"
        f.seek(1)
        assert f.read(1) == b"b"                # seekable contract
    with pytest.raises(FileNotFoundError):
        adapter.open_in(f"{root}/missing.bin")
    with pytest.raises(FileNotFoundError):
        adapter.getsize(f"{root}/missing.bin")
    # one-level listing: subdirs as names, pagination exercised
    assert adapter.listdir(root) == ["a", "b"]
    assert adapter.listdir(f"{root}/a") == ["x.bin", "y.bin"]
    assert adapter.listdir(f"{root}/empty") == []
    # conditional create: second writer loses loudly
    adapter.create_exclusive(f"{root}/m/0.json", b"{}")
    with pytest.raises(FileExistsError):
        adapter.create_exclusive(f"{root}/m/0.json", b"{}")
    adapter.delete(f"{root}/a/x.bin")
    assert not adapter.exists(f"{root}/a/x.bin")
    adapter.delete(f"{root}/a/x.bin")           # best-effort re-delete
    adapter.delete_tree(f"{root}/a")
    assert adapter.listdir(f"{root}/a") == []
    assert adapter.listdir(root) == ["b", "m"]


def test_adapter_pagination_many_keys(adapter, s3):
    """More keys than the fake's 2-key page: listdir and delete_tree
    must walk every page."""
    root = "s3mock://lake-bucket/big"
    for i in range(7):
        adapter.write_bytes(f"{root}/f{i}.bin", b"x")
    assert adapter.listdir(root) == [f"f{i}.bin" for i in range(7)]
    adapter.delete_tree(root)
    assert adapter.listdir(root) == []


def test_ds_write_read_roundtrip_through_s3_adapter(adapter, s3):
    """The mock-scheme DS contract matrix (test_spark_source.py) runs
    unchanged against the shipped S3 adapter: write → commit → read →
    time travel → tag → throttled streaming offsets → CAS loss. The
    keyspace is reachable ONLY through the fake client, so any
    un-dispatched local I/O fails loudly."""
    import pyarrow as pa
    from pyspark.sql.types import (
        LongType, StringType, StructField, StructType,
    )

    from aws_autonomous_driving_data_lake_ros_bag_scene_detection_pipeline_spark.sources.spark_source import (
        ConcurrentCommit, SnapshotBatchWriter,
        SnapshotPartitionedStreamReader, SnapshotReader,
        _commit_manifest, _manifest,
    )
    root = "s3mock://lake-bucket/tbl"
    schema = StructType([StructField("id", LongType()),
                         StructField("day", StringType()),
                         StructField("val", StringType())])
    opts = {"path": root, "partitioncols": "day"}
    w = SnapshotBatchWriter(opts, schema, overwrite=True)
    msg = w.write(iter([pa.record_batch(
        {"id": [1, 2, 3], "day": ["d1", "d1", "d2"],
         "val": ["a", "b", "c"]})]))
    assert all(e["bytes"] > 0 for e in msg.entries)
    w.commit([msg])                                             # v0
    w2 = SnapshotBatchWriter(opts, schema, overwrite=False)
    w2.commit([w2.write(iter([pa.record_batch(
        {"id": [4], "day": ["d3"], "val": ["d"]})]))])          # v1
    rdr = SnapshotReader({"path": root})
    rows = []
    for p in rdr.partitions():
        for b in rdr.read(p):
            rows += b.to_pylist()
    assert {(r["id"], r["day"], r["val"]) for r in rows} == {
        (1, "d1", "a"), (2, "d1", "b"), (3, "d2", "c"),
        (4, "d3", "d")}
    r0 = SnapshotReader({"path": root, "version": "0"})
    assert len(r0.partitions()) == 2
    adapter.write_bytes(f"{root}/_refs/rel.json",
                        json.dumps({"version": 0}).encode())
    rt = SnapshotReader({"path": root, "tag": "rel"})
    assert len(rt.partitions()) == 2
    with pytest.raises(FileNotFoundError, match="no tag"):
        SnapshotReader({"path": root, "tag": "nope"})
    srdr = SnapshotPartitionedStreamReader(
        {"path": root, "startversion": "0", "maxbytespertrigger": "1"})
    srdr.initialOffset()
    assert srdr.latestOffset() == {"version": 1, "index": 1}
    m = _manifest(root, 1)
    with pytest.raises(ConcurrentCommit):
        _commit_manifest(root, 1, dict(m))
    # every byte moved through the fake client, none around it
    assert "put_object" in s3.calls and "get_object" in s3.calls


def test_conditional_put_commit_transport(adapter, s3):
    """create_exclusive IS the conditional PUT: the first writer's PUT
    lands, the racer's precondition fails (412, or 409 when the two
    PUTs overlap) as FileExistsError, and the first body survives."""
    path = "s3mock://lake-bucket/t/_manifests/3.json"
    adapter.create_exclusive(path, json.dumps({"v": 3}).encode())
    with pytest.raises(FileExistsError):
        adapter.create_exclusive(
            path, json.dumps({"v": 3, "racer": True}).encode())
    assert json.loads(
        s3.objects[("lake-bucket", "t/_manifests/3.json")]) == {"v": 3}

    def _conflict(**kw):
        raise _err("PutObject", "ConditionalRequestConflict", 409)

    s3.put_object = _conflict
    with pytest.raises(FileExistsError):
        adapter.create_exclusive("s3mock://lake-bucket/t/x", b"{}")


def test_conditional_put_commit_end_to_end(s3, adapter):
    """The manifest publish on an S3 path is ONE conditional PUT
    through the fake service: the winner's manifest and hint land,
    the losing racer raises ConcurrentCommit — without Spark."""
    from aws_autonomous_driving_data_lake_ros_bag_scene_detection_pipeline_spark.sources.spark_source import (
        ConcurrentCommit, _commit_manifest, _latest_version, _manifest,
    )
    root = "s3mock://b/t"
    _commit_manifest(root, 0, {"version": 0, "files": [],
                               "writer": "first"})
    with pytest.raises(ConcurrentCommit):
        _commit_manifest(root, 0, {"version": 0, "files": [],
                                   "writer": "racer"})
    assert _manifest(root, 0)["writer"] == "first"
    assert s3.objects[("b", "t/_manifests/_latest_hint")] == b"0"
    assert _latest_version(root) == 0


def test_pickle_discipline():
    """Factory-built adapters pickle (executors rebuild the client);
    injected-client adapters refuse with a pointed message."""
    import pickle

    ad = S3SnapshotAdapter(client_factory=_factory_for_pickle)
    ad2 = pickle.loads(pickle.dumps(ad))
    assert ad2._factory is _factory_for_pickle
    with pytest.raises(TypeError, match="not .*picklable"):
        pickle.dumps(S3SnapshotAdapter(client=FakeS3Client()))
    with pytest.raises(ValueError, match="at most one"):
        S3SnapshotAdapter(client=FakeS3Client(),
                          client_factory=_factory_for_pickle)


def _factory_for_pickle():
    return FakeS3Client()


def test_pickle_after_lazy_factory_client():
    """A factory-built adapter stays picklable AFTER first use (the
    lazily-created client is dropped and rebuilt on the other side —
    r12 review fix: the old check misread it as 'injected')."""
    import pickle

    ad = S3SnapshotAdapter(client_factory=_factory_for_pickle)
    ad.write_bytes("s3mock2://b/k", b"x")        # creates the client
    assert ad._client is not None
    ad2 = pickle.loads(pickle.dumps(ad))
    assert ad2._client is None and ad2._factory is _factory_for_pickle
    ad2.write_bytes("s3mock2://b/k2", b"y")      # rebuilds lazily
    assert ad2.exists("s3mock2://b/k2")


def test_exists_bucket_root(adapter, s3):
    """Bucket root (empty key): exists must probe prefix '' like
    listdir, not '/' (r13 fix) — an empty bucket is absent, a
    non-empty one present."""
    assert not adapter.exists("s3mock://lake-bucket")
    assert not adapter.exists("s3mock://lake-bucket/")
    adapter.write_bytes("s3mock://lake-bucket/k.bin", b"x")
    assert adapter.exists("s3mock://lake-bucket")
    assert adapter.exists("s3mock://lake-bucket/")
