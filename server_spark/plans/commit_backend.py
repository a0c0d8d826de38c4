"""Pluggable put-if-absent COMMIT BACKEND (VERDICT r12 item 2).

The medallion layer's transactional correctness rests on one
primitive: an atomic put-if-absent used to claim manifest versions
(`medallion._claim_batch_id`) and to hold the advisory commit lock.
On a local filesystem that primitive is ``O_CREAT|O_EXCL``; on object
storage it is a conditional PUT (S3 ``If-None-Match: *`` — supported
since 2024-08 — and GCS ``x-goog-if-generation-match: 0``). This
module makes the primitive INJECTABLE the same way the JPEG codec is
(``multimodal/image.py _injected_jpeg_codec``): a deployment sets
``SPARK_GRAFT_COMMIT_BACKEND=module:factory`` at launch and the claim
machinery becomes multi-driver safe on a bucket without touching any
caller.

The protocol is deliberately the object-store wire surface and
nothing more — five verbs every store has, each one with a caller:

- ``put_if_absent(path, payload) -> bool`` — atomic create; False iff
  the object already existed (batch-id claims, lock acquisition).
- ``read(path) -> bytes | None`` — GET (lock ownership checks).
- ``list_names(prefix) -> iterable[str]`` — relative keys under a
  prefix, recursive, MAY BE LAZY (claims listing, manifest
  never-written probe; object-store LIST is paginated, and the
  never-written probe stops at the first real data key — a backend
  that materializes the whole listing turns an O(1) existence probe
  into a full-tree walk on every ingest).
- ``delete(path)`` — idempotent DELETE (claim pruning).
- ``replace_if_match(path, payload, expected) -> bool`` — atomic
  compare-and-swap, True iff the object's current payload equalled
  ``expected`` and was replaced (S3 ``If-Match`` etag / GCS
  ``if-generation-match`` conditional PUT; the local analog compares
  by value under a per-key advisory lock, so two racing swaps of one
  key cannot both pass the compare — see ``_key_guard``). Every
  backend commit-lock transition but the claim of an absent key is
  this verb, conditional on exact prior bytes: stale BREAK (one of N
  racing breakers wins), HEARTBEAT (a delayed beat can't overwrite a
  thief), and RELEASE (a tombstone swap instead of a delete). Claims
  alone never need it: an
  explicit ``MedallionPaths(backend=...)`` without it still mints
  batch ids, but the env hook and the lock refuse it
  (``require_verbs``).

NOT in the protocol: unconditional overwrite, rename, mtime,
directory semantics. Those are POSIX-isms the backend-routed
machinery must not rely on — the two-rename compaction swap in
``plans.maintenance`` therefore stays LOCAL-FS ONLY and rejects URI
roots loudly rather than pretending a bucket can rename.
"""

from __future__ import annotations

import importlib
import json
import os
import re
import tempfile
import time
from contextlib import contextmanager as _contextlib_contextmanager


_URI_RE = re.compile(r"^([a-zA-Z][a-zA-Z0-9+.-]+):")


def local_path(path: str, what: str) -> str:
    """THE one scheme gate for every POSIX-machinery entry point
    (r13 review: the check was copy-pasted four ways and already
    drifting — one variant case-insensitive, the others not, and
    lowercase ``file:`` URIs slipped through to os.walk/open, which
    silently no-op on them). Non-file URI schemes raise; ``file:``
    URIs normalize to the plain path (rejecting remote hosts); plain
    paths pass through. Case-insensitive per RFC 3986."""
    m = _URI_RE.match(path)
    if not m:
        return path
    if m.group(1).lower() != "file":
        raise ValueError(
            f"{what} is local-FS only (rename/walk/sidecar machinery); "
            f"got URI path {path!r}. Use a commit-backend/table-format "
            "deployment for object stores."
        )
    from urllib.parse import unquote, urlparse

    parsed = urlparse(path)
    if parsed.netloc not in ("", "localhost"):
        raise ValueError(
            f"{what} rejects remote-host file URIs: {path!r} "
            f"(netloc {parsed.netloc!r})"
        )
    return unquote(parsed.path)


def is_uri(path: str) -> bool:
    """True for any non-file URI scheme (the backend-routed case)."""
    m = _URI_RE.match(path)
    return bool(m) and m.group(1).lower() != "file"


class LocalFSBackend:
    """The default: POSIX primitives with object-store EXPOSURE
    semantics — every object appears fully-written or not at all.
    put_if_absent stages the payload to a temp file and claims the
    key with ``os.link`` (atomic fail-if-exists): the r13 review
    showed the earlier O_EXCL-then-write form exposed a torn (empty)
    payload between create and write, which the backend lock's
    staleness reader misread as an infinitely-stale claim and broke
    a milliseconds-old LIVE lock."""

    def put_if_absent(self, path: str, payload: bytes) -> bool:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        fd, staged = tempfile.mkstemp(dir=os.path.dirname(path), prefix=".staged-")
        try:
            os.write(fd, payload)
        finally:
            os.close(fd)
        try:
            os.link(staged, path)  # atomic: fails iff key exists
        except FileExistsError:
            return False
        finally:
            os.unlink(staged)
        return True

    @staticmethod
    @_contextlib_contextmanager
    def _key_guard(path: str):
        """Per-key advisory flock serializing concurrent
        ``replace_if_match`` calls on one key: without it, two swappers
        could both read the expected payload and both os.replace, so a
        stale BREAK would have two winners and a late HEARTBEAT could
        overwrite the thief that broke its lock. Guard files are
        HIDDEN-named (dot-prefixed basename) so list_names consumers
        never mistake one for table data (the old ``<key>.cas_guard``
        sibling of a claims file was listable)."""
        import fcntl

        head, base = os.path.split(path)
        os.makedirs(head, exist_ok=True)
        gfd = os.open(
            os.path.join(head, f".{base}.cas_guard"),
            os.O_CREAT | os.O_WRONLY,
        )
        try:
            fcntl.flock(gfd, fcntl.LOCK_EX)
            yield
        finally:
            os.close(gfd)  # closing drops the flock

    def read(self, path: str) -> bytes | None:
        try:
            with open(path, "rb") as fh:
                return fh.read()
        except OSError:
            return None

    def list_names(self, prefix: str):
        # a GENERATOR: the never-written probe consumes one element of
        # a huge tree; materializing would walk all of bronze per
        # ingest (r13 self-review). Hidden/temporary SUBTREES are
        # pruned during the walk (r13 review: a crashed first write's
        # _temporary tree holds thousands of task files the probe
        # would otherwise enumerate one-by-one per ingest) — files
        # directly under the prefix still list even when the prefix
        # itself is hidden-named (the _claims dir). Object-store
        # backends can't prune a flat keyspace; the consumers'
        # hidden-component filters remain the semantic gate there.
        for root, dirs, files in os.walk(prefix):
            dirs[:] = [d for d in dirs if not d.startswith(("_", "."))]
            rel = os.path.relpath(root, prefix)
            for f in files:
                # dot-prefixed FILES are this backend's own
                # coordination state (.cas_guard flock files, .staged-
                # temps, .commit.lock) — object-store keys they are
                # not; listing them would make every put() leave a
                # phantom sibling in the caller's keyspace
                if f.startswith("."):
                    continue
                yield f if rel == "." else os.path.join(rel, f)

    def delete(self, path: str) -> None:
        try:
            os.unlink(path)
        except FileNotFoundError:
            pass

    def replace_if_match(self, path: str, payload: bytes,
                         expected: bytes) -> bool:
        """The CAS verb (see module docstring). POSIX cannot
        compare-and-swap a file's content atomically, so the swappers
        of one key serialize on a per-key advisory flock
        (``_key_guard``); the swap itself is write-then-os.replace so a
        concurrent read never sees a torn payload (object-store PUTs
        are all-or-nothing; this matches that). Host-local by design —
        the multi-host CAS is the real object store's etag PUT."""
        with self._key_guard(path):
            if self.read(path) != expected:
                return False
            fd, tmp = tempfile.mkstemp(
                dir=os.path.dirname(path), prefix=".staged-"
            )
            try:
                os.write(fd, payload)
            finally:
                os.close(fd)
            os.replace(tmp, path)
            return True


class LinkConditionalPutBackend(LocalFSBackend):
    """Historical alias, kept as the tests' named contract fake. It
    was introduced as the NON-O_EXCL conditional-put backend (stage +
    os.link, the local analog of an S3 ``If-None-Match: *`` PUT) to
    prove the claim machinery's correctness comes from the protocol
    contract rather than the O_EXCL primitive the default backend
    then used; the r13 review promoted that exact implementation INTO
    LocalFSBackend (atomic exposure — see its docstring), so this is
    now an empty subclass. The multi-process mint race still runs
    over this name."""


def injected_backend():
    """Resolve an external backend from ``SPARK_GRAFT_COMMIT_BACKEND``
    ("module:factory" — the factory is CALLED, returning a backend
    instance), or None when unset. Same contract as the JPEG codec
    hook: a configured-but-broken spec raises loudly (silently falling
    back to local O_EXCL on a bucket deployment would silently lose
    multi-driver exclusion — the exact failure the backend was
    deployed to prevent). Resolution is cached per spec value, and the
    env is read at CALL time: like the codec hook, changing it after
    launch affects new claims only."""
    spec = os.environ.get("SPARK_GRAFT_COMMIT_BACKEND")
    if not spec:
        return None
    cache = getattr(injected_backend, "_cache", None)
    if cache is not None and cache[0] == spec:
        return cache[1]
    mod, _, fn = spec.partition(":")
    try:
        backend = getattr(importlib.import_module(mod), fn)()
    except Exception as exc:
        raise ImportError(
            f"SPARK_GRAFT_COMMIT_BACKEND={spec!r} failed to load: {exc}"
        ) from exc
    require_verbs(backend, f"SPARK_GRAFT_COMMIT_BACKEND={spec!r}")
    injected_backend._cache = (spec, backend)
    return backend


_VERBS = ("put_if_absent", "read", "list_names", "delete",
          "replace_if_match")


def require_verbs(backend, what: str) -> None:
    """Raise TypeError naming the first protocol verb ``backend``
    lacks. The env hook checks at resolution and the backend lock
    before it writes anything, so a CAS-less backend is refused
    loudly instead of holding a lock it cannot break or release."""
    for verb in _VERBS:
        if not callable(getattr(backend, verb, None)):
            raise TypeError(
                f"{what}: {type(backend).__name__} lacks the commit-"
                f"backend verb {verb!r}"
            )


_LOCAL = LocalFSBackend()


def backend_for(paths) -> LocalFSBackend:
    """The backend a MedallionPaths root commits through: the
    explicit ``paths.backend`` when given (wins, same rule as the
    JPEG codec's explicit argument), else the env-injected one, else
    local POSIX. MedallionPaths' constructor guarantees a URI root
    only exists when one of the first two is present AT CONSTRUCTION
    — but the env hook is read at CALL time (by design, matching the
    codec hook), so a process that unsets/loses
    ``SPARK_GRAFT_COMMIT_BACKEND`` after constructing URI-rooted
    paths would otherwise fall through to _LOCAL and write claims to
    a literal ``./s3:/...`` directory, silently voiding multi-driver
    exclusion (r13 advisor finding). A URI root with no resolvable
    backend therefore raises here too, not only in the constructor."""
    backend = getattr(paths, "backend", None) or injected_backend()
    if backend is not None:
        return backend
    root = getattr(paths, "root", "")
    if isinstance(root, str) and is_uri(root):
        raise RuntimeError(
            f"no commit backend resolvable for URI root {root!r}: the "
            "explicit backend is gone and SPARK_GRAFT_COMMIT_BACKEND "
            "is unset in this process — refusing the local POSIX "
            "fallback (its claims would land in a literal local "
            f"'./{root.split(':', 1)[0]}:/...' directory and exclude "
            "nothing)"
        )
    return _LOCAL


def lock_payload(token: str) -> bytes:
    return json.dumps(
        {"token": token, "claimed_at": time.time(), "beat_at": time.time()}
    ).encode()
