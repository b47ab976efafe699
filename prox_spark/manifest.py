"""The manifest-log table format's on-disk rules, decided in ONE place.

Every reader and writer of the format goes through this module for
its format decisions:

- ``table.py`` drives them over the JVM Hadoop FileSystem (every FS
  scheme, CAS by exists+rename on non-local stores);
- ``table_ds.py`` (the ``format("prox_table")`` connector) and
  ``table_stream.py`` (the change-feed source) run inside Python Data
  Source workers, which have no SparkSession and no JVM — so this
  module imports nothing that needs one, and carries the one
  ``pyarrow.fs`` metadata reader those workers use.

What it owns: manifest file naming and version parsing (main line,
branches, tags, chunk files), chunk assembly, foreign-entry
resolution (a shallow clone's absolute/URI entries), the min/max
range and key-set admission tests every pruning decision makes,
chunk ranges and packing, the next-version doc layout, the metadata
keys every commit carries forward, and the local ``os.link``
publish-if-absent primitive.

IO stays with the callers: functions that need to read or write a
JSON document take a callback (``read_json(rel)`` /
``write_json(rel, doc)``), so the same rule runs over Hadoop,
``pyarrow.fs`` or plain ``os``.
"""

from __future__ import annotations

import json
import os
import re
import uuid
from bisect import bisect_left

MANIFEST_DIR = "_manifests"
CHUNK_DIR = f"{MANIFEST_DIR}/chunks"

_BRANCH_NAME_RE = re.compile(r"^[A-Za-z0-9_-]+$")

# table-level metadata that survives EVERY commit, rewrites included:
# CHECK constraints keep enforcing; a shallow clone's origin stays
# releasable after its genesis manifest is vacuumed (release_clone_pin
# reads the LATEST manifest); a materialized view's lineage and an IVF
# index's coarse quantizer version with the data until their owners
# override them
CARRY_FORWARD = ("constraints", "cloned_from", "mv_of", "quantizer")
# what a pure APPEND (every current file kept) additionally carries
# verbatim: deletes target only pre-existing files and renames
# self-limit by birth version, so neither can apply to the new files
APPEND_CARRY = ("deletes", "renames", "dropped_cols", "index_of",
                "cluster_curve", "stream_batches", *CARRY_FORWARD)


# --- naming ----------------------------------------------------------------


def prefix(ref: str = "main") -> str:
    """Manifest filename prefix for a ref. ``main`` is the published
    table (``manifest-``); any other name is a BRANCH whose manifests
    live in the same dir under a prefix the main listing never
    matches — so branch commits are invisible to every reader that
    didn't ask for the branch."""
    if ref == "main":
        return "manifest-"
    if not _BRANCH_NAME_RE.match(ref):
        raise ValueError(
            f"invalid branch name {ref!r}: use [A-Za-z0-9_-]+ (and not 'main')"
        )
    return f"branch.{ref}."


def manifest_file(v: int, ref: str = "main") -> str:
    """Table-relative path of version ``v``'s manifest on ``ref``."""
    return f"{MANIFEST_DIR}/{prefix(ref)}{v:08d}.json"


def tag_file(name: str) -> str:
    """Table-relative path of tag ``name``'s pointer document."""
    return f"{MANIFEST_DIR}/tag.{name}.json"


def new_chunk_file() -> str:
    """A fresh, never-reused table-relative chunk file path."""
    return f"{CHUNK_DIR}/mc-{uuid.uuid4().hex}.json"


def _version_of(name: str, pre: str) -> int | None:
    if name.startswith(pre) and name.endswith(".json"):
        body = name[len(pre):-len(".json")]
        if body.isdigit():
            return int(body)
    return None


def versions_in(listing, ref: str = "main") -> dict:
    """{version: x} for every (file name, x) pair of a ``_manifests``
    listing that names one of ``ref``'s manifests — x is whatever the
    lister attached (a modification time, a file status)."""
    pre = prefix(ref)
    out: dict = {}
    for name, x in listing:
        v = _version_of(name, pre)
        if v is not None:
            out[v] = x
    return out


def branches_in(names) -> dict[str, list[int]]:
    """Live branches in a ``_manifests`` listing of file names, each
    with its ascending version list (the first is the fork base)."""
    out: dict[str, list[int]] = {}
    for fname in names:
        if not (fname.startswith("branch.") and fname.endswith(".json")):
            continue
        name, _, v = fname[len("branch."):-len(".json")].rpartition(".")
        if name and v.isdigit():
            out.setdefault(name, []).append(int(v))
    return {k: sorted(vs) for k, vs in sorted(out.items())}


def is_tag_file(name: str) -> bool:
    return name.startswith("tag.") and name.endswith(".json")


def version_at(times: dict[int, float], ts_ms: float, table_path: str,
               ref: str = "main") -> int:
    """TIMESTAMP AS OF resolution over {version: publish time (epoch
    ms)} — a manifest's publish time is its file's own modification
    time, the atomic rename that made the version visible: the newest
    version published at or before ``ts_ms``. Raises when the
    timestamp predates the oldest readable version (it may have been
    vacuumed) or there are no manifests."""
    if not times:
        raise ValueError(f"{table_path} is not a manifest table")
    eligible = [v for v, t in times.items() if t <= ts_ms]
    if not eligible:
        raise ValueError(
            f"no version of {table_path} (ref {ref!r}) existed at "
            f"{ts_ms}; the oldest readable version is {min(times)} "
            "(earlier ones may have been vacuumed)"
        )
    return max(eligible)


def pick_version(versions: list[int], version: int | None,
                 table_path: str, ref: str = "main") -> int:
    """``version`` (default: the latest) after checking it is listed."""
    if not versions:
        raise ValueError(f"{table_path} has no manifests for ref {ref!r}")
    v = versions[-1] if version is None else int(version)
    if v not in versions:
        raise ValueError(
            f"version {v} not in {versions} for {table_path} (ref {ref!r})"
        )
    return v


# --- file entries ----------------------------------------------------------


def is_foreign(entry: str) -> bool:
    """True when a manifest file entry is an ABSOLUTE path or full URI
    rather than a table-relative one. Relative entries are the norm;
    a SHALLOW CLONE's manifest references the source table's files
    absolutely (the Delta shallow-clone convention), so they resolve
    as-is and never collide with the clone's own ``data/`` listing —
    which keeps the clone's vacuum/compaction cleanup (both act only
    on locally-listed files) physically unable to touch the source."""
    return entry.startswith(("/", "file:")) or "://" in entry


def entry_path(table_path: str, entry: str) -> str:
    """Resolve a manifest file entry: relative entries join the table
    dir, foreign entries pass through untouched."""
    return entry if is_foreign(entry) else f"{table_path}/{entry}"


def local_path(path: str) -> str:
    """``path`` with a ``file:`` scheme stripped, for local-FS IO."""
    return path[len("file:"):] if path.startswith("file:") else path


def local_entry(table_path: str, entry: str) -> str:
    """:func:`entry_path` made openable by pyarrow / ``os``."""
    return local_path(entry_path(table_path, entry))


# --- chunk assembly --------------------------------------------------------


def assemble(doc: dict, read_json, chunk_filter=None) -> dict:
    """Resolve a chunked (v2) snapshot doc into the classic
    ``{files, stats, born, sizes, ...}`` shape; classic docs pass
    through. ``read_json(rel)`` loads a table-relative JSON document.
    ``chunk_filter(entry) -> bool`` skips chunks it rejects — the
    metadata half of a point lookup (a rejected chunk provably holds
    no matching file, so its chunk file is never read). Each kept
    entry gains its membership as ``_members`` (stripped before
    re-serialization, :func:`raw_entry`) so a later commit can carry
    untouched chunks by reference without re-reading them."""
    if "chunks" not in doc:
        return doc
    files: list[str] = []
    stats: dict = {}
    born: dict = {}
    sizes: dict = {}
    entries: list[dict] = []
    for entry in doc["chunks"]:
        if chunk_filter is not None and not chunk_filter(entry):
            continue
        chunk = read_json(entry["file"])
        files.extend(chunk["files"])
        stats.update(chunk.get("stats") or {})
        born.update(chunk.get("born") or {})
        sizes.update(chunk.get("sizes") or {})
        entries.append({**entry, "_members": chunk["files"]})
    out = dict(doc)
    out["chunks"] = entries
    out["files"] = files
    out["stats"] = stats
    if born:
        out["born"] = born
    if sizes:
        out["sizes"] = sizes
    return out


def raw_entry(entry: dict) -> dict:
    """A chunk entry as it is serialized (assembly bookkeeping off)."""
    return {k: v for k, v in entry.items() if k != "_members"}


# --- admission tests -------------------------------------------------------


def admits_range(fstats: dict | None, key_ranges: dict[str, tuple]) -> bool:
    """Could a file (or chunk, or row group) with min/max stats
    ``fstats`` hold a key tuple whose per-column values fall inside
    ``key_ranges``? Bounds may be one-sided: ``(lo, None)`` is
    [lo, +inf), ``(None, hi)`` is (-inf, hi]. Disjointness on ANY
    column proves no tuple can match; unknown stats or incomparable
    types never prune."""
    if fstats is None:
        return True
    for col, (lo, hi) in key_ranges.items():
        fr = fstats.get(col)
        if fr is None:
            continue
        try:
            if (lo is not None and fr[1] < lo) or (hi is not None and fr[0] > hi):
                return False
        except TypeError:
            continue
    return True


def admits_keys(fstats: dict | None, key_values: dict[str, list]) -> bool:
    """Key-SET admission: ``key_values`` maps columns to SORTED distinct
    values. The stats admit the set unless, for some column, NO value
    falls inside [min, max] — one bisect per column, so scattered keys
    (the CDC norm) prune where a min/max envelope would span
    everything. Conservative for multi-column keys (per-column
    membership is necessary, not sufficient, for a tuple match);
    unknown stats, a ``None`` value list or incomparable types never
    prune."""
    if fstats is None:
        return True
    for col, vals in key_values.items():
        fr = fstats.get(col)
        if fr is None or vals is None:
            continue
        try:
            i = bisect_left(vals, fr[0])
            if i >= len(vals) or vals[i] > fr[1]:
                return False
        except TypeError:
            continue
    return True


# --- layout ----------------------------------------------------------------


def chunk_ranges(files: list[str], stats: dict,
                 stat_cols: list[str]) -> dict | None:
    """Per-chunk min/max over the member files' stats — the chunk-level
    pruning index recorded in the snapshot doc. A column degrades to
    None (never pruned on) if ANY member lacks stats or the members'
    stat types are incomparable."""
    if not stat_cols:
        return None
    out: dict = {}
    for c in stat_cols:
        lo = hi = None
        ok = True
        for f in files:
            fst = stats.get(f)
            st = fst.get(c) if fst else None
            if st is None:
                ok = False
                break
            try:
                lo = st[0] if lo is None else min(lo, st[0])
                hi = st[1] if hi is None else max(hi, st[1])
            except TypeError:
                ok = False
                break
        out[c] = [lo, hi] if ok and lo is not None else None
    return out


def pack(files: list[str], stats: dict, stat_cols: list[str],
         chunk_size: int) -> list[list[str]]:
    """Split ``files`` into chunks of <= ``chunk_size`` members, sorted
    by the leading stat column's min so chunk ranges stay tight for
    pruning (by file name when stat types are incomparable; in the
    given order without stat columns)."""
    files = list(files)
    if stat_cols:
        lead = stat_cols[0]

        def key(f):
            st = stats.get(f)
            r = st.get(lead) if st else None
            return (r is None, r[0] if r else None, f)

        try:
            files.sort(key=key)
        except TypeError:  # incomparable stat types across files
            files.sort()
    return [files[i:i + chunk_size] for i in range(0, len(files), chunk_size)]


def file_meta(cur: dict, keep_now: list[str], new_files: list[str],
              new_stats: dict, new_sizes: dict,
              v: int) -> tuple[dict, dict, dict]:
    """(stats, born, sizes) of the next version: kept files keep their
    recorded entries (a file without a birth record counts as born at
    0), new files bring theirs and are born at ``v``."""
    cur_stats = cur.get("stats") or {}
    cur_born = cur.get("born") or {}
    cur_sizes = cur.get("sizes") or {}
    stats = {f: cur_stats.get(f) for f in keep_now}
    stats.update({f: new_stats.get(f) for f in new_files})
    born = {f: cur_born.get(f, 0) for f in keep_now}
    born.update(dict.fromkeys(new_files, v))
    sizes = {f: cur_sizes[f] for f in keep_now if f in cur_sizes}
    sizes.update({f: new_sizes[f] for f in new_files if f in new_sizes})
    return stats, born, sizes


def next_layout(cur: dict, keep_now: list[str], new_files: list[str],
                stats: dict, stat_cols: list[str], write_json, *,
                threshold: int, chunk_size: int,
                carry_entries: list | None = None,
                born: dict | None = None,
                sizes: dict | None = None) -> tuple[dict, list[str]]:
    """The ``{files, stats, born, sizes}`` or ``{chunks}`` half of the
    next snapshot doc, plus the chunk files written for it (for
    conflict cleanup). ``cur`` is the ASSEMBLED current manifest.
    Chunked when the current version already is, or the table has
    outgrown the inline layout (more than ``threshold`` live files):
    chunks whose members are all kept carry by reference; members of
    partially-invalidated chunks and the new files repack
    (:func:`pack`) into fresh immutable chunk files written through
    ``write_json(rel, doc)``. ``carry_entries``: chunk entries a
    chunk-pruned merge proved disjoint — carried verbatim without
    ever having been read."""
    total = len(keep_now) + len(new_files)
    prev_chunks = cur.get("chunks") or []
    if not prev_chunks and not carry_entries and total <= threshold:
        out = {"files": [*keep_now, *new_files], "stats": stats}
        if born:
            out["born"] = born
        if sizes:
            out["sizes"] = sizes
        return out, []
    keep_set = set(keep_now)
    carried = [raw_entry(e) for e in carry_entries or []]
    covered: set = set()
    for entry in prev_chunks:
        members = entry.get("_members")
        if members is not None and set(members) <= keep_set:
            carried.append(raw_entry(entry))
            covered.update(members)
    loose = [f for f in keep_now if f not in covered] + list(new_files)
    written = []
    for members in pack(loose, stats, stat_cols, chunk_size):
        rel = new_chunk_file()
        doc = {"files": members, "stats": {f: stats.get(f) for f in members}}
        if born:
            doc["born"] = {f: born[f] for f in members if f in born}
        if sizes:
            doc["sizes"] = {f: sizes[f] for f in members if f in sizes}
        write_json(rel, doc)
        entry = {"file": rel, "n": len(members)}
        ranges = chunk_ranges(members, stats, stat_cols)
        if ranges is not None:
            entry["ranges"] = ranges
        carried.append(entry)
        written.append(rel)
    return {"chunks": carried}, written


def carry(cur: dict | None, doc: dict, keys=CARRY_FORWARD) -> dict:
    """Copy ``cur``'s non-empty ``keys`` into the next doc."""
    for k in keys:
        if cur and cur.get(k):
            doc[k] = cur[k]
    return doc


# --- pyarrow.fs metadata reader ---------------------------------------------


def filesystem(path: str):
    """(pyarrow FileSystem, base path) for a table (or any) URI —
    LocalFileSystem for plain/``file:`` paths, the scheme's FS
    otherwise."""
    from pyarrow import fs as pafs

    path = local_path(path)
    if "://" in path:
        return pafs.FileSystem.from_uri(path)
    return pafs.LocalFileSystem(), path


def _listing(path: str) -> list[tuple[str, float]]:
    """(file name, mtime ms) of every entry in the table's manifest dir."""
    from pyarrow import fs as pafs

    fs, base = filesystem(path)
    sel = pafs.FileSelector(f"{base}/{MANIFEST_DIR}", allow_not_found=True)
    return [
        (os.path.basename(info.path), (info.mtime_ns or 0) / 1e6)
        for info in fs.get_file_info(sel)
    ]


def list_versions(path: str, ref: str = "main") -> list[int]:
    """``ref``'s readable versions, ascending."""
    return sorted(versions_in(_listing(path), ref))


def _load_json(path: str, rel: str) -> dict:
    """A table-relative JSON document of the table at ``path``."""
    fs, base = filesystem(path)
    with fs.open_input_file(f"{base}/{rel}") as f:
        return json.loads(f.read().decode("utf-8"))


def load_manifest(path: str, version: int | None = None,
                  ref: str = "main") -> dict:
    """The ASSEMBLED manifest for ``version`` (default: latest) on
    ``ref`` — ``table.read_manifest`` without a SparkSession. An
    explicit ``version`` is read directly (a vacuumed one raises
    FileNotFoundError); only the default lists the manifest dir."""
    if version is None:
        version = pick_version(list_versions(path, ref), None, path, ref)
    doc = _load_json(path, manifest_file(int(version), ref))
    return assemble(doc, lambda rel: _load_json(path, rel))


def version_at_timestamp(path: str, ts_ms: float, ref: str = "main") -> int:
    """:func:`version_at` over the table's manifest listing."""
    return version_at(versions_in(_listing(path), ref), ts_ms, path, ref)


def tag_version(path: str, name: str) -> int:
    """Resolve tag ``name`` to its pinned main version."""
    try:
        return int(_load_json(path, tag_file(name))["version"])
    except FileNotFoundError:
        raise ValueError(f"tag {name!r} does not exist on {path}") from None


# --- local publish -----------------------------------------------------------


def link_publish(tmp: str, final: str) -> bool:
    """Promote local file ``tmp`` to ``final`` iff no file holds that
    name; False on a lost race. ``os.link`` fails atomically on an
    existing target — unlike ``rename(2)``, which silently REPLACES it,
    so exists+rename is no CAS on a local FS. ``tmp`` (and the ``.crc``
    checksum file Hadoop's ChecksumFileSystem writes next to it) is
    always consumed."""
    try:
        os.link(tmp, final)
        return True
    except FileExistsError:
        return False
    finally:
        d, name = os.path.split(tmp)
        for p in (tmp, os.path.join(d, f".{name}.crc")):
            try:
                os.unlink(p)
            except OSError:
                pass
