"""Pluggable control-plane storage for the lake (commit log, manifests,
vacuum, sidecars).

The DATA plane (parquet scans and writes) already goes through Spark's Hadoop
FS connectors and therefore speaks any scheme the cluster has jars for. The
CONTROL plane — commit-log files, manifest listing after a write, vacuum,
the `index.json` sidecar — used to be hardwired to POSIX calls
(``os.listdir``/``os.walk``/``open``), which meant the object-store-safe
commit *layout* (direct-to-final, zero renames) still could not actually run
against ``s3://``. Everything control-plane now routes through the tiny
interface below; the reference's everything-is-an-fsspec-URI discipline
(/root/reference/investigraph/logic/load.py:21-22, logic/seed.py:14-23) is the
parity bar.

The interface is the object-store common denominator — put / get / list /
delete / exists, plus HEAD (``size``) and ranged GET (``get_range``, which
powers footer-only parquet statistics reads in lake/stats.py). No rename, no
mkdir, no walk:

- **No rename.** Atomicity needs are met by (a) exclusive put for commit
  files (locally: tmp + fsync + ``link``; on S3-class stores: conditional PUT
  ``If-None-Match: *``) and (b) plain overwrite put for checkpoints (object
  PUTs are atomic by nature; the local impl uses tmp + ``os.replace`` to get
  the same all-or-nothing visibility on POSIX).
- **No mkdir.** Directories don't exist on object stores; the local impl
  creates parents implicitly on put, listing a missing prefix yields ``[]``.

Deployments register additional schemes (e.g. an fsspec/boto-backed ``s3``)
with :func:`register_scheme`; ``memory://`` ships in-repo as the fake-remote
used by tests to prove no POSIX leakage remains.
"""

from __future__ import annotations

import io
import json
import os
import time
from typing import Any, Callable

__all__ = [
    "Storage",
    "LocalStorage",
    "MemoryStorage",
    "FsspecStorage",
    "RangeFile",
    "storage_for",
    "register_scheme",
    "register_fsspec",
    "join",
]


def join(*parts: str) -> str:
    """Join path components with "/" regardless of scheme (URI-safe; POSIX
    paths on the platforms Spark runs on use "/" too)."""
    out = parts[0].rstrip("/")
    for p in parts[1:]:
        out += "/" + p.strip("/")
    return out


class Storage:
    """Control-plane storage interface (see module docstring).

    All paths are full paths/URIs in the instance's scheme. ``list_*`` on a
    missing prefix returns ``[]``; ``put_*`` creates any missing parents;
    ``exclusive=True`` put raises :class:`FileExistsError` if the path exists
    (the commit-conflict primitive).
    """

    def exists(self, path: str) -> bool:
        raise NotImplementedError

    def list_names(self, prefix: str) -> list[str]:
        """Sorted names of the files DIRECTLY under prefix."""
        raise NotImplementedError

    def list_files(self, prefix: str) -> list[str]:
        """Sorted prefix-relative paths of ALL files under prefix (recursive)."""
        raise NotImplementedError

    def get_bytes(self, path: str) -> bytes:
        raise NotImplementedError

    def put_bytes(self, path: str, data: bytes, exclusive: bool = False) -> None:
        raise NotImplementedError

    def delete(self, path: str) -> None:
        raise NotImplementedError

    def size(self, path: str) -> int:
        """Object size in bytes (an object-store HEAD)."""
        return len(self.get_bytes(path))

    def mtime(self, path: str) -> float:
        """Last-modified time, epoch seconds (object-store HEAD metadata).
        Vacuum's orphan-grace guard reads this to avoid reclaiming files an
        in-flight writer landed but has not committed yet."""
        raise NotImplementedError

    def get_range(self, path: str, start: int, length: int) -> bytes:
        """Ranged read (an object-store ranged GET). The generic fallback
        fetches the whole object; real impls override with a true range so
        parquet-footer reads stay O(footer), not O(file)."""
        return self.get_bytes(path)[start : start + length]

    def open_range_reader(self, path: str) -> "RangeFile":
        """Seekable read-only file over ranged GETs — what footer-only
        parquet metadata reads go through (lake/stats.py)."""
        return RangeFile(self, path)

    # ---- conveniences shared by every impl -------------------------------
    def get_text(self, path: str) -> str:
        return self.get_bytes(path).decode("utf-8")

    def put_text(self, path: str, data: str, exclusive: bool = False) -> None:
        self.put_bytes(path, data.encode("utf-8"), exclusive=exclusive)

    def get_json(self, path: str) -> Any:
        return json.loads(self.get_text(path))

    def put_json(self, path: str, obj: Any, exclusive: bool = False) -> None:
        self.put_text(path, json.dumps(obj), exclusive=exclusive)

    def prune(self, prefix: str) -> None:
        """Reclaim empty directories under prefix. No-op where directories
        don't exist (object stores) — only the local impl overrides."""


class RangeFile(io.RawIOBase):
    """Read-only seekable file served by :meth:`Storage.get_range`.

    pyarrow's ParquetFile seeks to the tail for the footer and then to the
    row-group offsets it needs — through this adapter each such read is one
    ranged GET, so reading statistics from a 1 GB object transfers ~KBs.
    """

    def __init__(self, fs: Storage, path: str) -> None:
        self._fs = fs
        self._path = path
        self._size = fs.size(path)
        self._pos = 0

    def readable(self) -> bool:
        return True

    def seekable(self) -> bool:
        return True

    def seek(self, offset: int, whence: int = io.SEEK_SET) -> int:
        if whence == io.SEEK_SET:
            self._pos = offset
        elif whence == io.SEEK_CUR:
            self._pos += offset
        elif whence == io.SEEK_END:
            self._pos = self._size + offset
        else:
            raise ValueError(f"bad whence: {whence}")
        return self._pos

    def tell(self) -> int:
        return self._pos

    def read(self, n: int = -1) -> bytes:
        if n is None or n < 0:
            n = self._size - self._pos
        n = max(0, min(n, self._size - self._pos))
        if n == 0:
            return b""
        data = self._fs.get_range(self._path, self._pos, n)
        self._pos += len(data)
        return data

    def readinto(self, b) -> int:
        data = self.read(len(b))
        b[: len(data)] = data
        return len(data)


class LocalStorage(Storage):
    """POSIX impl. Accepts bare paths or ``file://`` URIs."""

    @staticmethod
    def _p(path: str) -> str:
        return path[7:] if path.startswith("file://") else path

    def exists(self, path: str) -> bool:
        return os.path.exists(self._p(path))

    def list_names(self, prefix: str) -> list[str]:
        p = self._p(prefix)
        if not os.path.isdir(p):
            return []
        return sorted(
            n for n in os.listdir(p) if os.path.isfile(os.path.join(p, n))
        )

    def list_files(self, prefix: str) -> list[str]:
        root = self._p(prefix)
        if not os.path.isdir(root):
            return []
        out = []
        for dirpath, _dirs, files in os.walk(root):
            rel = os.path.relpath(dirpath, root)
            for f in files:
                out.append(f if rel == "." else f"{rel}/{f}")
        return sorted(out)

    def get_bytes(self, path: str) -> bytes:
        with open(self._p(path), "rb") as f:
            return f.read()

    def put_bytes(self, path: str, data: bytes, exclusive: bool = False) -> None:
        p = self._p(path)
        os.makedirs(os.path.dirname(p), exist_ok=True)
        tmp = f"{p}.tmp.{os.getpid()}"
        with open(tmp, "wb") as f:
            f.write(data)
            f.flush()
            os.fsync(f.fileno())
        if exclusive:
            try:
                os.link(tmp, p)  # EEXIST on writer conflict — never clobbers
            finally:
                os.unlink(tmp)
        else:
            os.replace(tmp, p)  # atomic overwrite publish

    def delete(self, path: str) -> None:
        os.unlink(self._p(path))

    def size(self, path: str) -> int:
        return os.path.getsize(self._p(path))

    def mtime(self, path: str) -> float:
        return os.path.getmtime(self._p(path))

    def get_range(self, path: str, start: int, length: int) -> bytes:
        with open(self._p(path), "rb") as f:
            f.seek(start)
            return f.read(length)

    def prune(self, prefix: str) -> None:
        root = self._p(prefix)
        if not os.path.isdir(root):
            return
        for dirpath, _dirs, _files in os.walk(root, topdown=False):
            if dirpath != root and not os.listdir(dirpath):
                os.rmdir(dirpath)


class MemoryStorage(Storage):
    """In-memory fake-remote: a flat object map, no directories, no renames.

    Also records every operation in :attr:`ops` so tests can assert the lake
    control plane touches storage ONLY through this interface (put / get /
    list / delete / exists) — the proof that no ``os.*`` leaks remain.
    """

    def __init__(self) -> None:
        self.objects: dict[str, bytes] = {}
        self.mtimes: dict[str, float] = {}
        self.ops: list[tuple[str, str]] = []

    @staticmethod
    def _p(path: str) -> str:
        return path.rstrip("/")

    def exists(self, path: str) -> bool:
        self.ops.append(("exists", path))
        p = self._p(path)
        return p in self.objects or any(
            k.startswith(p + "/") for k in self.objects
        )

    def list_names(self, prefix: str) -> list[str]:
        self.ops.append(("list", prefix))
        p = self._p(prefix) + "/"
        return sorted(
            k[len(p):] for k in self.objects if k.startswith(p) and "/" not in k[len(p):]
        )

    def list_files(self, prefix: str) -> list[str]:
        self.ops.append(("list", prefix))
        p = self._p(prefix) + "/"
        return sorted(k[len(p):] for k in self.objects if k.startswith(p))

    def get_bytes(self, path: str) -> bytes:
        self.ops.append(("get", path))
        try:
            return self.objects[self._p(path)]
        except KeyError:
            raise FileNotFoundError(path) from None

    def put_bytes(self, path: str, data: bytes, exclusive: bool = False) -> None:
        self.ops.append(("put", path))
        p = self._p(path)
        if exclusive and p in self.objects:  # conditional PUT If-None-Match
            raise FileExistsError(path)
        self.objects[p] = data
        self.mtimes[p] = time.time()

    def delete(self, path: str) -> None:
        self.ops.append(("delete", path))
        self.objects.pop(self._p(path), None)
        self.mtimes.pop(self._p(path), None)

    def size(self, path: str) -> int:
        self.ops.append(("head", path))
        try:
            return len(self.objects[self._p(path)])
        except KeyError:
            raise FileNotFoundError(path) from None

    def get_range(self, path: str, start: int, length: int) -> bytes:
        self.ops.append(("get_range", path))
        try:
            return self.objects[self._p(path)][start : start + length]
        except KeyError:
            raise FileNotFoundError(path) from None

    def mtime(self, path: str) -> float:
        self.ops.append(("head", path))
        try:
            return self.mtimes[self._p(path)]
        except KeyError:
            raise FileNotFoundError(path) from None


class FsspecStorage(Storage):
    """Adapter over an fsspec ``AbstractFileSystem`` (s3fs, gcsfs, adlfs, …).

    Accepts any object exposing the fsspec surface used here — ``exists``,
    ``ls(detail=True)``, ``find``, ``cat_file(start=, end=)``, ``pipe_file``,
    ``rm_file``, ``size``, ``modified``, ``open(mode="xb")`` — so tests can
    drive it with an in-repo fake and deployments plug the real thing::

        import fsspec
        register_scheme("s3", FsspecStorage(fsspec.filesystem("s3")))
        # or, equivalently:
        register_fsspec("s3", anon=False)

    Paths are passed to the filesystem verbatim (fsspec impls strip their own
    ``scheme://`` prefix). Reference parity: the reference reads/writes any
    fsspec URI out of the box (/root/reference/investigraph/logic/load.py:21-22,
    logic/seed.py:14-23).

    **Exclusive put** maps to ``open(path, "xb")``. On filesystems with a
    conditional create (local ``O_EXCL``; S3 ``If-None-Match: *`` via recent
    s3fs) this is the atomic commit-conflict primitive the OCC protocol
    needs. A filesystem whose ``"x"`` mode is check-then-write narrows but
    does not close the race window — multi-writer deployments must provide a
    conditionally-consistent store (single-writer pipelines are unaffected).
    """

    def __init__(self, fs: Any) -> None:
        self.fs = fs

    def exists(self, path: str) -> bool:
        return bool(self.fs.exists(path))

    def list_names(self, prefix: str) -> list[str]:
        try:
            entries = self.fs.ls(prefix, detail=True)
        except FileNotFoundError:
            return []
        return sorted(
            e["name"].rstrip("/").rsplit("/", 1)[-1]
            for e in entries
            if e.get("type") == "file"
        )

    def list_files(self, prefix: str) -> list[str]:
        try:
            found = self.fs.find(prefix)
        except FileNotFoundError:
            return []
        # find() returns protocol-stripped absolute paths; relativize against
        # the same stripping of the prefix.
        base = prefix.split("://", 1)[-1].rstrip("/") + "/"
        out = []
        for p in found:
            p = p.split("://", 1)[-1]
            out.append(p[len(base):] if p.startswith(base) else p)
        return sorted(out)

    def get_bytes(self, path: str) -> bytes:
        return self.fs.cat_file(path)

    def put_bytes(self, path: str, data: bytes, exclusive: bool = False) -> None:
        if exclusive:
            with self.fs.open(path, "xb") as f:  # conditional create
                f.write(data)
        else:
            self.fs.pipe_file(path, data)

    def delete(self, path: str) -> None:
        self.fs.rm_file(path)

    def size(self, path: str) -> int:
        return int(self.fs.size(path))

    def mtime(self, path: str) -> float:
        # Prefer unambiguous epoch fields from fs.info() (LocalFileSystem
        # 'mtime' is a float epoch; s3fs 'LastModified' is a tz-aware
        # datetime) — fs.modified() on some backends returns a NAIVE
        # datetime whose clock (UTC vs host-local) is implementation-
        # defined, and guessing wrong ages files so vacuum's orphan grace
        # could reclaim an in-flight writer's young files.
        import datetime as _dt

        try:
            info = self.fs.info(path)
        except Exception:  # pragma: no cover - backend quirk; fall through
            info = {}
        for key in ("mtime", "modification_time", "last_modified", "LastModified"):
            v = info.get(key) if isinstance(info, dict) else None
            if isinstance(v, (int, float)) and not isinstance(v, bool):
                v = float(v)
                # some backends (DBFS-style APIs) report epoch MILLIseconds;
                # epoch seconds won't exceed 1e12 for ~30,000 years, so the
                # magnitude disambiguates. A millisecond value misread as
                # seconds would make every file look forever-young and turn
                # vacuum into a silent no-op.
                return v / 1000.0 if v > 1e12 else v
            if isinstance(v, _dt.datetime) and v.tzinfo is not None:
                return v.timestamp()
        m = self.fs.modified(path)
        if m.tzinfo is None:
            # Ambiguous naive datetime: take the YOUNGER (larger-epoch) of
            # the UTC and host-local interpretations, so grace windows err
            # toward sparing files — vacuum may retain an orphan one tz
            # offset longer, but can never reclaim a live writer's file
            # early because of a clock-convention guess.
            import calendar
            import time as _time

            as_utc = calendar.timegm(m.timetuple()) + m.microsecond / 1e6
            as_local = _time.mktime(m.timetuple()) + m.microsecond / 1e6
            return max(as_utc, as_local)
        return m.timestamp()

    def get_range(self, path: str, start: int, length: int) -> bytes:
        return self.fs.cat_file(path, start=start, end=start + length)


def register_fsspec(scheme: str, **storage_options: Any) -> None:
    """Register ``scheme://`` backed by ``fsspec.filesystem(scheme, ...)``.

    Import-gated: raises ImportError with guidance when fsspec (or the
    scheme's driver, e.g. s3fs) is not installed in the deployment image.
    """
    try:
        import fsspec
    except ImportError as e:  # pragma: no cover - depends on deployment image
        raise ImportError(
            "register_fsspec requires the 'fsspec' package (plus the scheme "
            "driver, e.g. s3fs for s3://) in the deployment image"
        ) from e
    register_scheme(scheme, FsspecStorage(fsspec.filesystem(scheme, **storage_options)))


_LOCAL = LocalStorage()
_MEMORY = MemoryStorage()
_SCHEMES: dict[str, Storage | Callable[[], Storage]] = {
    "": _LOCAL,
    "file": _LOCAL,
    "memory": _MEMORY,
}


def register_scheme(scheme: str, storage: Storage) -> None:
    """Plug a storage impl for a URI scheme (e.g. an fsspec-backed "s3")."""
    _SCHEMES[scheme] = storage


def storage_for(path: str) -> Storage:
    scheme = path.split("://", 1)[0] if "://" in path else ""
    try:
        impl = _SCHEMES[scheme]
    except KeyError:
        raise ValueError(
            f"no storage registered for scheme {scheme!r} "
            f"(register_scheme({scheme!r}, ...))"
        ) from None
    return impl() if callable(impl) else impl
