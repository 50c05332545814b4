"""Transactional table layer — the sandbox stand-in for Iceberg.

The north rule calls for Iceberg frontier/seen/ledger tables with one atomic
commit per crawl round (the resume anchor, mirroring the reference's
lock-server job-reassignment path, Server/LockServer/lockServer.go:114-197).
The Iceberg runtime jar is not available in this container, so this module
provides the same two commit primitives with plain parquet + atomic manifest
renames (`os.replace`). The cluster swap is CODE, not prose: the engine
reaches its catalog only through the `CatalogBackend` protocol
(catalog/backend.py — with the per-method Iceberg mapping table); this
class is the sandbox implementation of that protocol, verified by
tests/test_catalog_backend.py:

* ``JobStateStore`` — per-crawl-job round log. Each round directory holds
  ONE bucket-partitioned parquet file-set of the round's newly-discovered
  URLs (``new/`` — doubling as the round's seen-set delta), an optional
  ``deferred/`` set (the depth's whole politeness schedule, one
  ``due=<s>`` slice per sub-round), metrics, and touched Bloom bucket
  blobs; the round becomes visible only when ``commit.json`` lands via
  atomic rename. The PENDING FRONTIER is a manifest in the commit —
  ``[relpath, depth, n_rows, due_sub]`` file-set references — so depths
  the round did not touch carry over by reference and are never
  rewritten, and both Bloom blobs and frontier data inherit across rounds
  the way Iceberg snapshots share unchanged data files. Every commit is
  stamped ``"format": STORE_FORMAT`` (Iceberg's table ``format-version``);
  read_commit refuses any other stamp, and no other layout is read.
* ``AtomicTable`` — tiny versioned table (job ledger, job cache, robots
  cache): write new version dir, flip a CURRENT pointer file atomically.
"""

from __future__ import annotations

import json
import os
import shutil
import tempfile
from typing import Dict, List, Optional

# the job-store layout this module writes and reads, stamped on every commit
STORE_FORMAT = 1


def _atomic_write(path: str, data: bytes) -> None:
    d = os.path.dirname(path)
    os.makedirs(d, exist_ok=True)
    fd, tmp = tempfile.mkstemp(dir=d, prefix=".tmp_")
    try:
        with os.fdopen(fd, "wb") as f:
            f.write(data)
        os.replace(tmp, path)
    finally:
        if os.path.exists(tmp):
            os.unlink(tmp)


class JobStateStore:
    """Round-committed crawl state for one job (SURVEY.md §3.1 Spark
    lifecycle: one transaction boundary per round = the resume point)."""

    def __init__(self, warehouse: str, job_id: str):
        self.dir = os.path.join(warehouse, "jobs", job_id)
        os.makedirs(self.dir, exist_ok=True)

    # ---------------------------------------------------------- layout
    def round_dir(self, r: int) -> str:
        return os.path.join(self.dir, f"r{r:05d}")

    def _commit_path(self, r: int) -> str:
        return os.path.join(self.round_dir(r), "commit.json")

    def new_path(self, r: int) -> str:
        """Round r's newly-discovered URLs (bucket-partitioned parquet) —
        one write serving as frontier component AND seen-set delta."""
        return os.path.join(self.round_dir(r), "new")

    def seen_delta_path(self, r: int) -> str:
        return self.new_path(r)

    def deferred_path(self, r: int) -> str:
        """The politeness schedule of the depth being drained, one
        ``due=<s>`` slice per sub-round (same layout)."""
        return os.path.join(self.round_dir(r), "deferred")

    def fcompact_path(self, r: int) -> str:
        """Round r's frontier-manifest compaction output: merged copies of
        small per-sub-round pending file-sets (one ``d=<depth>`` root per
        merged group, same bucketed layout as new/). Purely a FRONTIER
        read-path artifact — the original new/ roots stay live as seen
        components; only their manifest entries are replaced. This is the
        Iceberg rewrite-manifests analog for the pending frontier: a
        politeness-throttled depth otherwise appends one manifest entry
        per sub-round, and a 10^4-sub-round drain would hand the next
        depth's sub-round-0 read a 10^4-way union."""
        return os.path.join(self.round_dir(r), "fcompact")

    def metrics_path(self, r: int) -> str:
        return os.path.join(self.round_dir(r), "metrics")

    def tombstones_path(self, r: int) -> str:
        """Round r's seen-set DELETES (bucket-partitioned parquet, same
        layout/schema as new/) — the merge-on-read equality-delete files
        of the seen table, written by FrontierEngine.unsee_urls. A
        tombstone at round t suppresses seen rows written in rounds
        STRICTLY BEFORE t only; a re-add in a later round (unsee_urls'
        reseed round, or natural re-discovery) is a new row and survives.
        compact_seen applies tombstones physically (its output has them
        folded in), so tombstone_components() hides rounds the live
        compaction covers and vacuum() deletes their files."""
        return os.path.join(self.round_dir(r), "tombstones")

    def tombstone_components(self) -> List[tuple]:
        """(round, path) of every live tombstone file-set: committed
        rounds AFTER the live compaction's upto (earlier ones are already
        folded into the compacted table)."""
        sc = self.read_seen_compact()
        lo = sc["upto"] if sc is not None else -1
        return [
            (r, self.tombstones_path(r))
            for r in self.committed_rounds()
            if r > lo and os.path.isdir(self.tombstones_path(r))
        ]

    def seen_compact_dir(self) -> str:
        return os.path.join(self.dir, "seen_compact")

    def seen_compact_staging(self, upto: int) -> str:
        """Target dir for a compaction covering rounds 0..upto. UNIQUE per
        attempt: two compactors racing at the same round (zombie master vs
        timeout-steal winner) must never share a staging dir — with a
        deterministic name the loser would rmtree the dir the winner just
        flipped the live pointer to. Losers' dirs become orphans that
        vacuum sweeps once aged."""
        import uuid

        return os.path.join(self.seen_compact_dir(), f"c{upto:05d}_{uuid.uuid4().hex[:12]}")

    def bloom_blob_path(self, r: int, bucket: int, chunk: int = 0) -> str:
        """Blob file for (round, bucket[, write-chunk])."""
        name = f"bucket_{bucket:05d}.bin" if chunk == 0 else f"bucket_{bucket:05d}.c{chunk}.bin"
        return os.path.join(self.round_dir(r), "blooms", name)

    # ---------------------------------------------------------- commits
    def last_committed(self) -> Optional[int]:
        best = None
        if not os.path.isdir(self.dir):
            return None
        for name in os.listdir(self.dir):
            if name.startswith("r") and os.path.exists(self._commit_path(int(name[1:]))):
                r = int(name[1:])
                best = r if best is None or r > best else best
        return best

    def read_commit(self, r: int) -> dict:
        """Round r's commit. Raises ValueError for a commit of any store
        format but STORE_FORMAT: no other layout is read."""
        with open(self._commit_path(r)) as f:
            info = json.load(f)
        if info.get("format") != STORE_FORMAT:
            raise ValueError(
                f"job store {self.dir!r}: round {r} was committed in store format "
                f"{info.get('format')!r}, this engine reads format {STORE_FORMAT}; "
                "rerun in a fresh warehouse"
            )
        return info

    def commit_round(self, r: int, info: dict, touched_blooms: Optional[List[int]] = None) -> None:
        """Atomically publish round r. `info` must carry the loop state
        needed for resume (depth, sub_round, pending count, done flag).
        Bloom manifest: bucket -> round whose blob is current."""
        prev = self.last_committed()
        info = dict(info)
        manifest: Dict[str, int] = {}
        if prev is not None:
            prev_info = self.read_commit(prev)
            manifest = prev_info["bloom_manifest"]
            # the seen-filter identity (params/seen_buckets, written by the
            # seed commit) inherits like the bloom manifest, so resume
            # validation reads the LAST commit only — round 0 may be expired
            info.setdefault("seen_filter", prev_info["seen_filter"])
        for b in touched_blooms or []:
            manifest[str(b)] = r
        info["format"] = STORE_FORMAT
        info["round"] = r
        info["bloom_manifest"] = manifest
        _atomic_write(self._commit_path(r), json.dumps(info).encode())

    def abort_round(self, r: int) -> None:
        """Drop an uncommitted round dir (crash cleanup on resume)."""
        if not os.path.exists(self._commit_path(r)) and os.path.isdir(self.round_dir(r)):
            shutil.rmtree(self.round_dir(r))

    def vacuum(self, staging_age_s: float = 3600.0) -> Dict[str, int]:
        """Iceberg expire-snapshots/orphan-cleanup analog. Deletes, without
        changing any reader-visible state:

        * uncommitted round dirs beyond the last commit (crash staging) —
          AGE-GUARDED by `staging_age_s` (dir mtime), because a round dir
          newer than that may be the ACTIVE round of the owning master (or
          of a timeout-steal winner) mid-write; pass 0 only when the job is
          known not to be acquired (e.g. after its ledger entry completed)
        * SUPERSEDED Bloom blobs — a bucket's blob in round r is garbage
          once the latest commit's bloom manifest points that bucket at a
          newer round (the manifest shares the CURRENT blob across rounds;
          older generations are unreachable)
        * deferred/ file-sets no longer referenced by the latest frontier
          manifest (a politeness remainder is superseded once drained)
        * superseded seen-compaction generations (dirs under seen_compact/
          other than the live pointer's target — age-guarded, a fresh one
          may be a concurrent compactor's staging)
        * seen deltas (`new/`) fully covered by the live compaction AND not
          referenced by the frontier manifest as pending components —
          readers get identical rows from the compacted table

        Metrics are never touched. Returns deletion counts."""
        last = self.last_committed()
        stats = {
            "aborted_rounds": 0,
            "stale_blooms": 0,
            "stale_deferred": 0,
            "stale_fcompact": 0,
            "stale_compacts": 0,
            "compacted_deltas": 0,
            "covered_tombstones": 0,
        }
        if last is None:
            return stats
        # read first: a commit of another store format raises here, before
        # any file is swept
        commit = self.read_commit(last)
        import time

        for name in os.listdir(self.dir):
            if name.startswith("r") and name[1:].isdigit() and int(name[1:]) > last:
                try:
                    age = time.time() - os.path.getmtime(os.path.join(self.dir, name))
                except FileNotFoundError:
                    continue
                if age < staging_age_s:
                    continue  # possibly an ACTIVE round mid-write — keep
                self.abort_round(int(name[1:]))
                stats["aborted_rounds"] += 1
        live_blob = {int(b): rr for b, rr in commit["bloom_manifest"].items()}
        live_paths = {os.path.join(self.dir, e[0]) for e in commit["frontier_manifest"]}
        for r in self.committed_rounds():
            blooms_dir = os.path.join(self.round_dir(r), "blooms")
            if os.path.isdir(blooms_dir):
                for f in os.listdir(blooms_dir):
                    bucket = int(f.split("_")[1].split(".")[0])
                    if live_blob.get(bucket) != r:
                        os.unlink(os.path.join(blooms_dir, f))
                        stats["stale_blooms"] += 1
            # deferred sets are laid out as deferred/due=<s>/... — one root
            # per scheduled sub-round; sweep each slice the manifest no
            # longer references (it was admitted), then the empty root
            def_path = self.deferred_path(r)
            if os.path.isdir(def_path):
                for child in os.listdir(def_path):
                    p = os.path.join(def_path, child)
                    if p not in live_paths:
                        shutil.rmtree(p, ignore_errors=True)
                        stats["stale_deferred"] += 1
                if not os.listdir(def_path):
                    os.rmdir(def_path)
            # fcompact sets (fcompact/d=<k>/...) are frontier-only copies:
            # garbage as soon as the manifest stops referencing them
            # (drained, or re-merged into a later generation) — same rule
            # as deferred slices
            fc_path = self.fcompact_path(r)
            if os.path.isdir(fc_path):
                for child in os.listdir(fc_path):
                    p = os.path.join(fc_path, child)
                    if p not in live_paths:
                        shutil.rmtree(p, ignore_errors=True)
                        stats["stale_fcompact"] += 1
                if not os.listdir(fc_path):
                    os.rmdir(fc_path)
        sc = self.read_seen_compact()
        # superseded/orphaned compaction generations: anything under
        # seen_compact/ that is not the live pointer's target — including
        # staging from a compactor that crashed before ANY pointer existed
        # (sc is None) — age-guarded against a concurrent compactor's
        # in-flight staging
        live_compact = os.path.join(self.dir, sc["path"]) if sc is not None else None
        if os.path.isdir(self.seen_compact_dir()):
            for name in os.listdir(self.seen_compact_dir()):
                p = os.path.join(self.seen_compact_dir(), name)
                try:
                    fresh = time.time() - os.path.getmtime(p) < staging_age_s
                except FileNotFoundError:
                    continue
                if p != live_compact and not fresh:
                    shutil.rmtree(p, ignore_errors=True)
                    stats["stale_compacts"] += 1
        # superseded pointer files (append-only set_seen_compact scheme):
        # readers take the max upto, so dropping lower ones never changes
        # the visible pointer
        if sc is not None:
            for nm in os.listdir(self.dir):
                if nm.startswith("seen_compact_v") and nm.endswith(".json"):
                    # two concurrent vacuums sweep the same superseded
                    # pointers — losing the open/unlink race is benign
                    try:
                        with open(os.path.join(self.dir, nm)) as f:
                            superseded = json.load(f)["upto"] < sc["upto"]
                        if superseded:
                            os.unlink(os.path.join(self.dir, nm))
                    except (FileNotFoundError, json.JSONDecodeError):
                        continue
        if sc is not None:
            for r in self.committed_rounds():
                np_ = self.new_path(r)
                if r <= sc["upto"] and os.path.isdir(np_) and np_ not in live_paths:
                    shutil.rmtree(np_)
                    stats["compacted_deltas"] += 1
                # tombstones covered by the compaction were folded in
                # physically at flip time — the delete files are dead
                tp = self.tombstones_path(r)
                if r <= sc["upto"] and os.path.isdir(tp):
                    shutil.rmtree(tp)
                    stats["covered_tombstones"] += 1
        return stats

    # ---------------------------------------------------------- readers
    def committed_rounds(self) -> List[int]:
        last = self.last_committed()
        return [] if last is None else [r for r in range(last + 1) if os.path.exists(self._commit_path(r))]

    def seen_paths(self) -> List[str]:
        """Roots of the seen set: the latest compaction (covering rounds
        0..upto, if one exists) plus every later round's delta. Without
        compaction this grows O(rounds); FrontierEngine.compact_seen (run
        automatically every cfg.compact_seen_every rounds) keeps the
        component count — and so each round's seen-scan file listing —
        bounded for crawls of any age."""
        return [p for _, p in self.seen_components()]

    def seen_components(self) -> List[tuple]:
        """(effective_round, path) of every live seen component. The
        compacted table's effective round is its `upto` (every row in it
        was written at some round <= upto and already has covered
        tombstones folded in); per-round deltas carry their own round.
        The round tag is what tombstone suppression compares against:
        a row from component round c is suppressed by a tombstone from
        round t iff t > c."""
        comps: List[tuple] = []
        lo = -1
        sc = self.read_seen_compact()
        if sc is not None:
            comps.append((sc["upto"], os.path.join(self.dir, sc["path"])))
            lo = sc["upto"]
        return comps + [
            (r, self.seen_delta_path(r))
            for r in self.committed_rounds()
            if r > lo and os.path.isdir(self.seen_delta_path(r))
        ]

    def read_seen_compact(self) -> Optional[dict]:
        """{"upto": r, "path": relpath} of the live compaction, or None —
        the HIGHEST-upto published pointer file (see set_seen_compact's
        append-only scheme).

        Race handling: vacuum() deletes superseded pointer files, so a
        file from this listing may be GONE by the time it is opened. A
        pointer only vanishes when a strictly NEWER one was published
        (vacuum never unlinks the max-upto winner), but that newer pointer
        is not necessarily in the SAME listing snapshot — skipping the
        vanished file without rescanning could return None / a stale max
        and silently shrink the visible seen set (the deltas it covered
        may already be vacuumed). So a vanish RESTARTS the scan; each
        restart implies a strictly higher published upto, so the loop
        terminates (bounded here as a belt against pathological churn)."""
        for _ in range(16):
            best = None
            vanished = False
            if os.path.isdir(self.dir):
                for nm in os.listdir(self.dir):
                    if nm.startswith("seen_compact_v") and nm.endswith(".json"):
                        try:
                            with open(os.path.join(self.dir, nm)) as f:
                                cand = json.load(f)
                        except FileNotFoundError:
                            vanished = True
                            break
                        except json.JSONDecodeError:
                            # torn/garbage pointer: never produced by the
                            # atomic link scheme, so not a race — skip it
                            continue
                        if best is None or cand["upto"] > best["upto"]:
                            best = cand
            if not vanished:
                return best
        raise RuntimeError(
            f"seen-compact pointers in {self.dir!r} kept vanishing across 16 "
            "rescans — vacuum churn beyond any legitimate compaction rate"
        )

    def set_seen_compact(self, upto: int, relpath: str) -> bool:
        """Publish a seen-compaction pointer — MONOTONIC BY CONSTRUCTION.
        A stale/zombie compactor must never move the pointer BACKWARD: once
        vacuum has observed a newer pointer it may have deleted the deltas
        in (old_upto, new_upto], which then exist only in the newer
        compaction dir — a backward flip would orphan them and a later
        vacuum would delete that dir as superseded, losing seen rows
        permanently. A read-check-overwrite guard is not enough (two
        compactors can both pass the check and the stale one wins the
        overwrite), so the pointer is APPEND-ONLY: each generation claims
        its own ``seen_compact_v{upto}.json`` via ``os.link`` (EEXIST ⇒ a
        concurrent compactor already owns that upto — first writer wins)
        and readers take the highest upto. No writer ever touches another
        generation's file, so no interleaving can move the visible pointer
        backward. Superseded pointer files are swept by vacuum with their
        dirs. Returns whether this attempt published."""
        cur = self.read_seen_compact()
        if cur is not None and int(upto) <= int(cur["upto"]):
            return False  # fast path; the os.link below is the real gate
        final = os.path.join(self.dir, f"seen_compact_v{int(upto):010d}.json")
        import uuid

        tmp = os.path.join(self.dir, f".{os.path.basename(final)}.{uuid.uuid4().hex[:12]}.tmp")
        with open(tmp, "w") as f:
            json.dump({"upto": int(upto), "path": relpath}, f)
        try:
            os.link(tmp, final)
        except FileExistsError:
            return False
        finally:
            os.unlink(tmp)
        return True

    def metrics_paths(self) -> List[str]:
        return [self.metrics_path(r) for r in self.committed_rounds() if os.path.isdir(self.metrics_path(r))]

    def bloom_blobs(self, r: Optional[int] = None) -> Dict[int, List[str]]:
        """bucket -> blob file path LIST as of committed round r (default:
        last). A round that wrote a bucket in chunked mode leaves one blob
        file per chunk (each = previous filter | chunk bits); the reader
        ORs the list (functions/bloom.load_blobs). The listing is one
        directory scan of the manifest round's blooms dir — on a real
        catalog this is the manifest-file entry list, not a listing."""
        r = self.last_committed() if r is None else r
        if r is None:
            return {}
        manifest = self.read_commit(r)["bloom_manifest"]
        by_round: Dict[int, List[str]] = {}
        for rr in set(manifest.values()):
            d = os.path.join(self.round_dir(rr), "blooms")
            by_round[rr] = sorted(os.listdir(d)) if os.path.isdir(d) else []
        out: Dict[int, List[str]] = {}
        for b, rr in manifest.items():
            # match 'bucket_<b>.' exactly (names: bucket_00003.bin,
            # bucket_00003.c2.bin) — a bare startswith(prefix) would OR
            # foreign buckets' bits in once ids outgrow the 5-digit padding
            # (bucket_10010 matching bucket_100100.bin)
            prefix = f"bucket_{int(b):05d}."
            out[int(b)] = [
                os.path.join(self.round_dir(rr), "blooms", f)
                for f in by_round[rr]
                if f.startswith(prefix) and f.endswith(".bin")
            ]
        return out


DELTA_META = "delta_meta.json"


def fold_delta(base, ups, dels, key):
    """Apply one keyed delta to a snapshot: drop `dels` keys, then upsert
    `ups` rows — existing keys update IN PLACE (original row position),
    new keys append in `ups` order. This is the merge arm of the Iceberg
    ``MERGE INTO ... WHEN MATCHED UPDATE / WHEN NOT MATCHED INSERT`` the
    AtomicTable delta scheme stands in for (lockServer.go:69-101 does the
    same per-row UPDATE in Postgres). Positional stability means consumers
    that were written against full-snapshot rewrites see identical state."""
    import numpy as np
    import pandas as pd

    if dels is not None and len(dels) and len(base):
        base = base[~base[key].isin(set(dels))]
    base = base.reset_index(drop=True)
    if ups is None or not len(ups):
        return base
    if not len(base):
        return ups.reset_index(drop=True).copy()
    merged = pd.concat([base, ups], ignore_index=True)
    first_pos = {}
    for i, k in enumerate(merged[key]):
        if k not in first_pos:
            first_pos[k] = i
    out = merged.drop_duplicates(subset=key, keep="last")
    order = np.argsort(
        np.fromiter((first_pos[k] for k in out[key]), dtype=np.int64, count=len(out)),
        kind="stable",
    )
    return out.iloc[order].reset_index(drop=True)


def version_delta_meta(table: "AtomicTable", v: int) -> Optional[dict]:
    """The delta descriptor of version v, or None if v is a full snapshot.
    ``data.parquet`` takes PRECEDENCE over delta files in the same dir:
    compact() materializes a delta version in place (write-tmp + rename)
    before expiring its base chain, and that one rename atomically flips
    the version from delta to full for every reader."""
    path = table.path_of(v)
    if os.path.exists(os.path.join(path, "data.parquet")):
        return None
    try:
        with open(os.path.join(path, DELTA_META)) as f:
            return json.load(f)
    except FileNotFoundError:
        return None


def read_table_version(table: "AtomicTable", v: int):
    """Reconstruct the full snapshot at version v: walk the base chain back
    to the nearest full snapshot (every delta's base is its predecessor, so
    the chain is the contiguous version range), then fold forward. Chain
    length is bounded by _PandasTable.FULL_EVERY."""
    import pyarrow.parquet as pq

    chain: List[tuple] = []
    vv: Optional[int] = v
    base = None
    while vv is not None:
        path = table.path_of(vv)
        meta = version_delta_meta(table, vv)
        if meta is None:
            base = pq.read_table(os.path.join(path, "data.parquet")).to_pandas()
            break
        chain.append((path, meta))
        vv = meta["base"]
    for path, meta in reversed(chain):
        ups = pq.read_table(os.path.join(path, "delta.parquet")).to_pandas()
        if base is None:
            base = ups.iloc[0:0]
        base = fold_delta(base, ups, meta["deletes"], meta["key"])
    return base


class AtomicTable:
    """Versioned single-parquet table with compare-and-swap commits.

    Used for the job ledger (D7), job cache (D6) and robots cache — tables
    whose updates are read-modify-write MERGEs at tiny cardinality (one row
    per job / host). On a cluster this is an Iceberg MERGE INTO with a
    conditional catalog commit.

    Version n is committed by atomically LINKING a fully-written marker file
    into ``commit_v{n}`` — ``os.link`` fails with EEXIST if another writer
    already owns n, so claim and publish are ONE atomic act with no crash
    window between them (a claim-file-then-flip-pointer scheme can wedge the
    table if the claimant dies mid-way). The marker's content names the
    staging data dir, written beforehand under a unique name. This is the
    reference lock server's one-owner-per-version guarantee
    (Server/LockServer/lockServer.go:131-147, Postgres row lock) re-expressed
    as optimistic CAS: concurrent read-modify-writes race on the next
    version; the loser re-reads and retries, so admission/acquisition stays
    exactly-once across PROCESSES, not just threads."""

    def __init__(self, warehouse: str, name: str):
        self.dir = os.path.join(warehouse, name)
        os.makedirs(self.dir, exist_ok=True)

    def _marker(self, v: int) -> str:
        return os.path.join(self.dir, f"commit_v{v:06d}")

    def current_version(self) -> Optional[int]:
        best = None
        for nm in os.listdir(self.dir):
            if nm.startswith("commit_v"):
                v = int(nm[8:])
                best = v if best is None or v > best else best
        return best

    def path_of(self, v: int) -> str:
        with open(self._marker(v)) as f:
            return os.path.join(self.dir, f.read().strip())

    def current_path(self) -> Optional[str]:
        v = self.current_version()
        return None if v is None else self.path_of(v)

    def new_version_path(self) -> str:
        """Unique staging dir; becomes a version only via publish()."""
        import uuid

        return os.path.join(self.dir, f"d_{uuid.uuid4().hex[:12]}")

    _AUTO = object()  # sentinel: None is a real expectation ("table empty")

    def publish(self, path: str, expected_version=_AUTO) -> bool:
        """CAS-commit `path` as version expected_version+1 (None = expect an
        empty table). Returns False — and removes the staging dir — if
        another writer committed that version first (caller re-reads and
        retries). Passing no expectation re-reads the current version,
        i.e. blind last-writer-wins publish."""
        if expected_version is AtomicTable._AUTO:
            expected_version = self.current_version()
        v = (expected_version or 0) + 1
        # freshen + verify the staging dir right before the commit: compact()
        # age-guards orphan sweeps on mtime, so a writer that stalled past the
        # guard re-stamps here and cannot link a marker at a swept dir (the
        # residual stall window between these two syscalls is microseconds)
        try:
            os.utime(path)
        except FileNotFoundError:
            return False
        fd, tmp = tempfile.mkstemp(dir=self.dir, prefix=".tmpmk_")
        with os.fdopen(fd, "w") as f:
            f.write(os.path.basename(path))
        try:
            os.link(tmp, self._marker(v))
        except FileExistsError:
            shutil.rmtree(path, ignore_errors=True)
            return False
        finally:
            os.unlink(tmp)
        return True

    def compact(self, keep_last: int = 8) -> int:
        """Expire old versions (Iceberg expire_snapshots): drop markers and
        data dirs older than the newest `keep_last`, plus orphaned staging
        dirs no surviving marker names. Never touches the current version;
        keep_last bounds the CDC window (catalog/changes.py) readers get.
        Returns the number of versions dropped."""
        versions = sorted(
            int(n[8:]) for n in os.listdir(self.dir) if n.startswith("commit_v")
        )
        drop = versions[:-keep_last] if keep_last > 0 else []
        if drop and keep_last > 0:
            # the oldest KEPT version may be a keyed delta whose
            # reconstruction walks a base chain into the drop range —
            # materialize it as a full snapshot IN PLACE first (Iceberg
            # expire-snapshots rewrites manifests the same way). The
            # write-tmp + rename makes data.parquet appear atomically, and
            # data.parquet takes read precedence over the delta files, so
            # the chain below can then be severed safely. On any race with
            # a concurrent compactor (version vanished mid-read), skip the
            # drops this pass — the winner already handled them.
            oldest_kept = versions[len(drop)]
            try:
                if version_delta_meta(self, oldest_kept) is not None:
                    import uuid

                    import pyarrow as pa
                    import pyarrow.parquet as pq

                    pdf = read_table_version(self, oldest_kept)
                    path = self.path_of(oldest_kept)
                    tmp = os.path.join(path, f".data_{uuid.uuid4().hex[:12]}.tmp")
                    pq.write_table(pa.Table.from_pandas(pdf, preserve_index=False), tmp)
                    os.replace(tmp, os.path.join(path, "data.parquet"))
            except FileNotFoundError:
                drop = []
        kept_dirs = set()
        for v in versions[len(drop):]:
            try:
                kept_dirs.add(os.path.basename(self.path_of(v)))
            except FileNotFoundError:
                pass  # a concurrent compactor with a smaller keep_last won
        n_dropped = 0
        for v in drop:
            # every step tolerates a CONCURRENT compactor having done it
            # first: marker/data already gone == already compacted, not an
            # error (two processes may both run maintenance)
            try:
                data = self.path_of(v)
            except FileNotFoundError:
                continue
            try:
                os.unlink(self._marker(v))
            except FileNotFoundError:
                pass
            n_dropped += 1
            if os.path.basename(data) not in kept_dirs:
                shutil.rmtree(data, ignore_errors=True)
        import time

        for name in os.listdir(self.dir):
            # orphan staging/marker tmp files from crashed or lost writers
            # (a publish() that died between mkstemp and unlink leaks
            # .tmpmk_*) — age-guarded so a CONCURRENT writer's
            # not-yet-published staging survives
            is_orphan_dir = name.startswith("d_") and name not in kept_dirs
            is_orphan_tmp = name.startswith((".tmpmk_", ".tmp_"))
            if is_orphan_dir or is_orphan_tmp:
                p = os.path.join(self.dir, name)
                try:
                    if time.time() - os.path.getmtime(p) > 3600:
                        if is_orphan_dir:
                            shutil.rmtree(p, ignore_errors=True)
                        else:
                            os.unlink(p)
                except FileNotFoundError:
                    pass
        return n_dropped
