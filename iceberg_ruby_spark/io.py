"""FileIO — the storage boundary for table METADATA.

Round-1 review flagged the metadata layer as POSIX-only (`open`/`os.replace`/
`O_EXCL` inline in FsTableOps).  All metadata I/O now goes through this
interface; the data plane (parquet read/write) already goes through Spark's
Hadoop filesystem layer and needs no abstraction here.

The contract an implementation must provide:

- ``write_atomic(path, text, overwrite=False)`` raising ``FileExistsError``
  when ``overwrite=False`` and the object exists — the commit primitive.
  It publishes the whole object or nothing.  Local: temp file +
  ``os.link``.  S3: conditional put (``If-None-Match: *``).  GCS:
  ``x-goods-if-generation-match: 0``.  HDFS: ``create(overwrite=false)``.
- ``replace(path, text)`` — last-writer-wins swap (version-hint).  Local:
  temp file + ``os.replace``.  Object stores: plain put (single-key puts
  are atomic).
- ``read``, ``exists``, ``delete``, ``list`` (recursive file listing), and
  ``size`` — all prefix-scoped, no directory semantics required.
"""

from __future__ import annotations

import contextlib
import os
import uuid
from collections.abc import Iterator


class FileIO:
    """Interface; see module docstring for the atomicity contract."""

    def read(self, path: str) -> str:
        raise NotImplementedError

    def write_atomic(self, path: str, text: str, overwrite: bool = False) -> None:
        raise NotImplementedError

    def read_bytes(self, path: str) -> bytes:
        """Binary read (Avro manifests).  Default bridges through the text
        methods via latin-1 — a lossless bytes↔str bijection — so str-based
        backends (the injected-client S3 fake) inherit binary support;
        filesystem backends override with real binary I/O.

        INVARIANT for subclasses relying on this default: ``read()`` must
        return the exact ``str`` previously passed to ``write_atomic()``
        (store the bridged string verbatim).  A backend whose ``read()``
        decodes utf-8 from real byte storage would silently corrupt
        Avro/Puffin payloads through this bridge — such backends MUST
        override ``read_bytes``/``write_bytes_atomic`` with real binary
        I/O (as LocalFileIO and S3FileIO do)."""
        return self.read(path).encode("latin-1")

    def write_bytes_atomic(self, path: str, data: bytes, overwrite: bool = False) -> None:
        self.write_atomic(path, data.decode("latin-1"), overwrite=overwrite)

    def replace(self, path: str, text: str) -> None:
        raise NotImplementedError

    def exists(self, path: str) -> bool:
        raise NotImplementedError

    def delete(self, path: str) -> None:
        raise NotImplementedError

    def delete_prefix(self, prefix: str) -> None:
        raise NotImplementedError

    def list(self, prefix: str) -> Iterator[str]:
        """All file paths under ``prefix`` (recursive)."""
        raise NotImplementedError

    def size(self, path: str) -> int | None:
        raise NotImplementedError

    def mtime_ms(self, path: str) -> int | None:
        """Last-modified epoch-millis, or None if unknown — callers using
        this for safety windows (orphan cleanup) must treat None as
        'recent'."""
        raise NotImplementedError

    def list_children(self, prefix: str) -> list[str]:
        """Immediate child names under ``prefix`` (object stores: delimiter
        listing)."""
        raise NotImplementedError

    def move_prefix(self, src: str, dst: str) -> None:
        """Move every object under ``src`` to ``dst`` (object stores: copy +
        delete; no rename primitive is assumed)."""
        raise NotImplementedError


class LocalFileIO(FileIO):
    """POSIX implementation: every write goes to a temp file first, then
    ``os.link`` publishes a conditional write (it fails if the name
    exists) and ``os.replace`` a swap."""

    def read(self, path: str) -> str:
        with open(path) as f:
            return f.read()

    def read_bytes(self, path: str) -> bytes:
        with open(path, "rb") as f:
            return f.read()

    def write_atomic(self, path: str, text: str, overwrite: bool = False) -> None:
        self.write_bytes_atomic(path, text.encode(), overwrite=overwrite)

    def write_bytes_atomic(self, path: str, data: bytes, overwrite: bool = False) -> None:
        """Write a temp file beside ``path``, then publish it whole:
        ``os.replace`` when overwriting, else ``os.link``, which raises
        ``FileExistsError`` when ``path`` exists.  A crash mid-write
        leaves only the hidden temp file, never a torn ``path``."""
        os.makedirs(os.path.dirname(path), exist_ok=True)
        tmp = os.path.join(
            os.path.dirname(path), f".{os.path.basename(path)}.{uuid.uuid4().hex}"
        )
        try:
            with open(tmp, "wb") as f:
                f.write(data)
            (os.replace if overwrite else os.link)(tmp, path)
        finally:
            with contextlib.suppress(FileNotFoundError):
                os.remove(tmp)

    def replace(self, path: str, text: str) -> None:
        self.write_bytes_atomic(path, text.encode(), overwrite=True)

    def exists(self, path: str) -> bool:
        return os.path.exists(path)

    def delete(self, path: str) -> None:
        if os.path.exists(path):
            os.remove(path)

    def delete_prefix(self, prefix: str) -> None:
        import shutil

        if os.path.isdir(prefix):
            shutil.rmtree(prefix)
        elif os.path.exists(prefix):
            os.remove(prefix)

    def list(self, prefix: str) -> Iterator[str]:
        if os.path.isfile(prefix):
            yield prefix
            return
        for root, _dirs, files in os.walk(prefix):
            for fn in sorted(files):
                yield os.path.join(root, fn)

    def size(self, path: str) -> int | None:
        return os.path.getsize(path) if os.path.exists(path) else None

    def mtime_ms(self, path: str) -> int | None:
        return int(os.path.getmtime(path) * 1000) if os.path.exists(path) else None

    def list_children(self, prefix: str) -> list[str]:
        if not os.path.isdir(prefix):
            return []
        return sorted(os.listdir(prefix))

    def move_prefix(self, src: str, dst: str) -> None:
        import shutil

        shutil.move(src, dst)


class S3FileIO(FileIO):
    """S3 implementation over an INJECTED client with the boto3 ``s3``
    method surface (the aws.py pattern: with ``client=None`` a real boto3
    client is built; tests inject an in-process fake since no AWS endpoint
    exists in CI).  Parity target: the reference routes FS vs S3 storage
    through OpenDAL behind one interface
    (``ext/iceberg/src/catalog.rs:510-524``); this class is the S3 arm of
    the same seam for METADATA I/O.  The data plane (parquet) goes through
    Spark's Hadoop layer and needs ``spark.hadoop.fs.s3a.*`` configured on
    the cluster — out of scope here.

    Atomicity mapping (module docstring contract):

    - ``write_atomic(overwrite=False)`` → conditional put with
      ``IfNoneMatch='*'`` (S3 native compare-and-swap); a lost race
      surfaces the service's 412 ``PreconditionFailed`` as
      ``FileExistsError``, which the engine's optimistic-commit retry
      loops already handle.
    - ``replace`` → plain put (single-key S3 puts are atomic,
      last-writer-wins — exactly the version-hint contract).
    - ``move_prefix`` → copy + delete per object (S3 has no rename).
    """

    def __init__(self, client: object = None):
        if client is None:  # pragma: no cover - requires AWS credentials
            import boto3

            client = boto3.client("s3")
        self.client = client

    @staticmethod
    def _parse(path: str) -> tuple[str, str]:
        if not path.startswith("s3://"):
            raise ValueError(f"not an s3 path: {path!r}")
        rest = path[len("s3://"):]
        bucket, _, key = rest.partition("/")
        return bucket, key

    @staticmethod
    def _is_precondition_failure(exc: Exception) -> bool:
        code = getattr(exc, "response", {}).get("Error", {}).get("Code", "")
        return (code or type(exc).__name__) in (
            "PreconditionFailed",
            "ConditionalRequestConflict",
        )

    def read(self, path: str) -> str:
        data = self.read_bytes(path)
        return data.decode() if isinstance(data, bytes) else data

    def read_bytes(self, path: str) -> bytes:
        """Native binary read: the S3 object's true bytes (no text-bridge
        round trip — Avro/Puffin metadata on S3 must be byte-exact for
        external readers)."""
        bucket, key = self._parse(path)
        try:
            body = self.client.get_object(Bucket=bucket, Key=key)["Body"]
        except Exception as e:
            code = getattr(e, "response", {}).get("Error", {}).get("Code", "")
            if (code or type(e).__name__) == "NoSuchKey":
                raise FileNotFoundError(path)
            raise
        data = body.read()
        return data.encode() if isinstance(data, str) else data

    def write_atomic(self, path: str, text: str, overwrite: bool = False) -> None:
        self.write_bytes_atomic(path, text.encode(), overwrite=overwrite)

    def write_bytes_atomic(
        self, path: str, data: bytes, overwrite: bool = False
    ) -> None:
        bucket, key = self._parse(path)
        if overwrite:
            self.client.put_object(Bucket=bucket, Key=key, Body=data)
            return
        try:
            self.client.put_object(
                Bucket=bucket, Key=key, Body=data, IfNoneMatch="*"
            )
        except Exception as e:
            if self._is_precondition_failure(e):
                raise FileExistsError(path)
            raise

    def replace(self, path: str, text: str) -> None:
        bucket, key = self._parse(path)
        self.client.put_object(Bucket=bucket, Key=key, Body=text.encode())

    def exists(self, path: str) -> bool:
        bucket, key = self._parse(path)
        try:
            self.client.head_object(Bucket=bucket, Key=key)
            return True
        except Exception as e:
            code = getattr(e, "response", {}).get("Error", {}).get("Code", "")
            if (code or type(e).__name__) in ("404", "NoSuchKey", "NotFound"):
                # key miss: fall through to a prefix probe (callers use
                # exists() on "directories", which S3 models as prefixes)
                return bool(self.list_children(path))
            raise

    def delete(self, path: str) -> None:
        bucket, key = self._parse(path)
        self.client.delete_object(Bucket=bucket, Key=key)

    def delete_prefix(self, prefix: str) -> None:
        for p in list(self.list(prefix)):
            self.delete(p)

    def _list_keys(self, bucket: str, key_prefix: str) -> list[str]:
        keys: list[str] = []
        token = None
        while True:
            kwargs = {"Bucket": bucket, "Prefix": key_prefix}
            if token:
                kwargs["ContinuationToken"] = token
            resp = self.client.list_objects_v2(**kwargs)
            keys.extend(o["Key"] for o in resp.get("Contents", []))
            if not resp.get("IsTruncated"):
                return keys
            token = resp.get("NextContinuationToken")

    def list(self, prefix: str) -> Iterator[str]:
        bucket, key = self._parse(prefix)
        if not key:
            # bucket root: every key (rstrip would otherwise produce a
            # '/' prefix no S3 key starts with → silent empty listing)
            for k in sorted(self._list_keys(bucket, "")):
                yield f"s3://{bucket}/{k}"
            return
        # one subtree listing PLUS an exact-key probe: an object can exist
        # at the bare key AND other objects under key + '/' (legal S3
        # layout) — both must be yielded, so the head_object probe always
        # runs (one cheap request; the old only-when-empty probe dropped
        # the exact-key object whenever the subtree was non-empty)
        subtree = self._list_keys(bucket, key.rstrip("/") + "/")
        if not key.endswith("/"):
            try:
                self.client.head_object(Bucket=bucket, Key=key)
                if key not in subtree:
                    subtree.append(key)
            except Exception:
                pass
        for k in sorted(subtree):
            yield f"s3://{bucket}/{k}"

    def size(self, path: str) -> int | None:
        bucket, key = self._parse(path)
        try:
            return int(self.client.head_object(Bucket=bucket, Key=key)["ContentLength"])
        except Exception:
            return None

    def mtime_ms(self, path: str) -> int | None:
        bucket, key = self._parse(path)
        try:
            lm = self.client.head_object(Bucket=bucket, Key=key)["LastModified"]
            return int(lm.timestamp() * 1000)
        except Exception:
            return None

    def list_children(self, prefix: str) -> list[str]:
        bucket, key = self._parse(prefix)
        key = key.rstrip("/") + "/" if key else ""
        resp = self.client.list_objects_v2(
            Bucket=bucket, Prefix=key, Delimiter="/"
        )
        names = [p["Prefix"][len(key):].rstrip("/") for p in resp.get("CommonPrefixes", [])]
        names += [o["Key"][len(key):] for o in resp.get("Contents", []) if o["Key"] != key]
        return sorted(n for n in names if n)

    def move_prefix(self, src: str, dst: str) -> None:
        sbucket, skey = self._parse(src)
        dbucket, dkey = self._parse(dst)
        for k in self._list_keys(sbucket, skey.rstrip("/") + "/") + (
            [skey] if skey in self._list_keys(sbucket, skey) else []
        ):
            new_key = dkey + k[len(skey):]
            self.client.copy_object(
                Bucket=dbucket,
                Key=new_key,
                CopySource={"Bucket": sbucket, "Key": k},
            )
            self.client.delete_object(Bucket=sbucket, Key=k)
