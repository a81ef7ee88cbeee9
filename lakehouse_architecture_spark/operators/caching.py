"""Bounded session caching for lazy query functions.

Query-registry functions return LAZY DataFrames — the consuming action
belongs to the caller (driver, bench, a user), so a function that
persists an intermediate cannot unpersist it in a ``finally`` the way a
streaming job does. Left alone, those persists accumulate across a
multi-query session (the r8 ADVICE leak: every span query pinned a new
posting relation; the same class covered ~20 plain ``.cache()`` sites
across the relational/dedup_sim/events/embeddings query modules until
round 10 routed them all through here).

``one_slot_persist`` bounds that growth by construction: each named
slot holds AT MOST ONE persisted relation, and persisting into a slot
releases its predecessor first. Session-wide cache held by this module
is therefore bounded by the number of slots (a small static set of
call sites), not by the number of queries run.

Identity-aware reuse: callers that can name the logical identity of
the relation (e.g. ``(sf_dir, shingle_k)`` for a posting relation) may
pass ``key=...``. When the incoming key equals the key the slot
already holds, the slot's ALREADY-WARM DataFrame is returned and no
unpersist/re-persist happens — bounded AND warm across consecutive
queries over the same inputs. Same key MUST mean same logical
relation; when in doubt, omit ``key`` and take the rebuild.

Concurrency contract: slot state is guarded by a lock, so concurrent
calls won't corrupt the registry — but two concurrent queries that
share a slot NAME with different keys will still evict each other's
relation mid-flight. Slots assume the build-then-consume, one query
at a time session shape of the driver/bench; a threaded harness must
either give each thread its own slot names or accept recomputation
(correctness is unaffected — an evicted relation recomputes lazily).

IMMUTABLE-INPUT ASSUMPTION (the r10 ADVICE hazard): an identity key
like ``(sf_dir, k)`` names the INPUT FILES, so a warm hit silently
serves the materialized relation built from the files as they were —
if data under a keyed path is rewritten mid-session, the slot is
stale. In-repo that cannot happen (no registry query writes under
sf_dir, and every staged-swap writer calls
:func:`release_slots_for_path` on its target via
``sinks.writers._refresh_swapped_path``); a library user mutating
inputs outside those writers must call ``release_slots_for_path(dir)``
(or ``release_slots()``) after the rewrite.
"""

from __future__ import annotations

import os
import threading
from typing import Callable

from pyspark.sql import DataFrame, SparkSession

_LOCK = threading.Lock()
_SLOTS: dict[str, tuple[object, DataFrame]] = {}


def _is_persisted(df: DataFrame) -> bool:
    try:
        sl = df.storageLevel
        return sl.useMemory or sl.useDisk
    except Exception:
        return False  # stopped session: definitely not warm


def _is_pathlike(key_elem: object) -> bool:
    """Key elements that participate in path matching: absolute,
    explicitly relative (``./``/``../``), or containing a separator.
    Bare single-token labels (table names, corpus labels) are not
    path-like — see :func:`_path_overlaps`."""
    return isinstance(key_elem, str) and bool(key_elem) and (
        key_elem.startswith(("/", "./", "../"))
        or "/" in key_elem
        or os.sep in key_elem
    )


def _normalize_key(key: object) -> object:
    """Resolve path-like string elements of an identity key to absolute
    at REGISTRATION time (the r13 ADVICE hazard):
    ``release_slots_for_path`` compares abspath-normalized keys, and
    ``os.path.abspath`` of a relative key depends on the process CWD —
    resolving when the slot is registered pins the key to the CWD that
    gave it meaning, so a later CWD change cannot make the release
    silently miss (which would leave a stale slot serving old data,
    the unsafe direction). Non-path elements pass through unchanged; a
    slash-bearing label that is not really a path normalizes the same
    way on the register and release sides, so at worst a slot releases
    early (a lazy rebuild), never serves stale data.

    Recurses into NESTED tuples (the r14 ADVICE gap): the minhash
    family keys slots as ``((sf_dir, table), shingle_n, max_df)`` —
    a top-level-only walk left the inner ``sf_dir`` unresolved AND
    invisible to :func:`release_slots_for_path`'s element scan, so a
    mid-session rewrite under ``sf_dir`` kept serving the stale cached
    posting relation (exactly the unsafe direction this module exists
    to close)."""

    def norm(e: object) -> object:
        if isinstance(e, tuple):
            return tuple(norm(x) for x in e)
        return os.path.abspath(e) if _is_pathlike(e) else e

    return norm(key)


def one_slot_persist(
    df: DataFrame | Callable[[], DataFrame],
    slot: str = "default",
    key: object = None,
) -> DataFrame:
    """Persist ``df`` into ``slot``, releasing whatever it held before.

    With a non-None ``key``: if the slot already holds a relation
    persisted under an equal key, return THAT (warm) DataFrame and
    leave it persisted — the caller's ``df`` is discarded
    unmaterialized. ``key=None`` claims no identity and never matches.
    Path-like key elements are abspath-resolved here, at registration
    (see :func:`_normalize_key`).

    ``df`` may also be a no-argument builder, called only on a miss: a
    warm hit then builds no plan at all (a plan build is hundreds of
    Py4J round trips for an array-heavy relation). A builder's warm hit
    is checked against the thread's active session.
    """
    if key is not None:
        key = _normalize_key(key)
    built = isinstance(df, DataFrame)
    with _LOCK:
        held = _SLOTS.get(slot)
        if (
            held is not None
            and key is not None
            and held[0] == key
            # a warm hit must come from the SAME live session — a new
            # session's plan must not be answered with a stopped
            # session's DataFrame (tests create/stop many sessions)
            and held[1].sparkSession
            is (df.sparkSession if built else SparkSession.getActiveSession())
            # ...and must STILL be cached: Spark's CacheManager is
            # plan-keyed, so two slots holding the same logical plan
            # share one entry and releasing either kills both — a
            # de-warmed holder is a miss, not a hit (re-persist below)
            and _is_persisted(held[1])
        ):
            return held[1]
    if not built:
        df = df()  # outside the lock: a builder may fill other slots
    with _LOCK:
        held = _SLOTS.pop(slot, None)
        if held is not None:
            try:
                held[1].unpersist(blocking=False)
            except Exception:
                pass  # a stopped session must not fail the new query
        out = df.persist()
        _SLOTS[slot] = (key, out)
        return out


def _path_overlaps(key_elem: object, path: str) -> bool:
    """True when a key element names ``path`` or a directory related to
    it by containment (either direction — a rewrite under a keyed dir
    stales the slot, and a rewrite of a parent stales keys below it).
    Only PATH-LIKE key elements participate: keys also carry non-path
    strings (table names, corpus labels), and a bare single-token
    label that happens to equal a write target's basename must not
    spuriously release an unrelated slot. Path-likeness = absolute,
    explicitly relative (``./``/``../``), or CONTAINING a separator
    (so a slot keyed with a bare relative dir like ``testdata/sf0.1``
    is still releasable by a writer rewriting under it — the r12
    ADVICE gap). Keys registered through :func:`one_slot_persist` are
    already abspath-resolved at registration (the r13 ADVICE fix — a
    CWD change between registration and release cannot desynchronize
    them); the abspath here is a belt-and-braces normalization for
    keys injected by external callers. A slash-bearing label that is
    not really a path can at worst release a slot early (a lazy
    rebuild), never serve stale data — the safe direction."""
    if not _is_pathlike(key_elem):
        return False
    a = os.path.abspath(key_elem).rstrip("/")
    b = path.rstrip("/")
    return a == b or a.startswith(b + "/") or b.startswith(a + "/")


def release_slots_for_path(path: str) -> int:
    """Unpersist and drop every slot whose identity KEY mentions a path
    overlapping ``path`` — the cache-invalidation hook for writers that
    rewrite files in place (staged-swap MERGE/overwrite/CDC call this
    via ``_refresh_swapped_path``, next to the catalog refresh that
    invalidates Spark's own plan cache). The incoming path is
    normalized to absolute so a relative write target still matches
    the absolute paths slot keys carry. Keyless slots (``key=None``)
    are left alone: they never warm-hit, so they cannot serve stale
    data. Key elements are walked through nested tuples (the r14
    ADVICE gap — minhash slots key as ``((sf_dir, table), n, df)``).
    Returns the number of slots released."""

    def flat(e: object):
        if isinstance(e, tuple):
            for x in e:
                yield from flat(x)
        else:
            yield e

    path = os.path.abspath(path)
    released = 0
    with _LOCK:
        for name, (key, df) in list(_SLOTS.items()):
            elems = list(flat(key))
            if any(_path_overlaps(e, path) for e in elems):
                _SLOTS.pop(name)
                try:
                    df.unpersist(blocking=False)
                except Exception:
                    pass
                released += 1
    return released


def release_slots(prefix: str = "") -> int:
    """Unpersist and drop every slot whose name starts with ``prefix``.

    Returns the number of slots released. Used by tests and by
    long-running harnesses that want a clean cache boundary between
    phases; queries never need to call this (slots self-bound).
    """
    released = 0
    with _LOCK:
        for name in [n for n in _SLOTS if n.startswith(prefix)]:
            _, df = _SLOTS.pop(name)
            try:
                df.unpersist(blocking=False)
            except Exception:
                pass
            released += 1
    return released
