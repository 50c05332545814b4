"""CatalogBackend — the transactional-catalog seam (north rule: Iceberg
frontier/seen/ledger tables, one atomic commit per crawl round).

tables.JobStateStore (plain parquet + atomic manifest renames) is the
one implementation; an Iceberg-backed store would follow the mapping
table below.
The engine reaches its catalog ONLY through this protocol
(plans/frontier.py FrontierEngine.store_backend), so swapping backends
is a one-attribute change and the full test suite runs against whichever
backend the attribute names — the cluster story is code, not prose
(r7 VERDICT #8).

Method-by-method Iceberg mapping (v2 spec, all public):

=====================  =====================================================
protocol call          Iceberg analog
=====================  =====================================================
commit_round           one transaction: append the round's data files +
                       write the loop state into the snapshot's summary
                       properties (Iceberg snapshots carry a string map)
read_commit            snapshot summary of the round's snapshot
last_committed         current snapshot pointer (catalog CAS)
committed_rounds       snapshot log
abort_round            no-op: uncommitted files are invisible; orphan
                       cleanup handles the leftovers
new/deferred/fcompact/ data-file locations inside the table's partition
tombstones/metrics     spec (write.data.path); the writer task layout in
  paths                _write_bucketed already matches an Iceberg writer
seen_components        data files of the seen table's current snapshot
tombstone_components   v2 equality-delete files (merge-on-read DELETE)
seen_df via components merge-on-read scan (engine's _seen_view = the spec's
                       delete-file application rule)
read/set_seen_compact  rewrite_data_files (compaction) + snapshot replace
seen_compact_staging   rewrite's staged file group
bloom_blobs/blob_path  puffin sidecar files (the spec's statistics blobs) —
                       per-bucket filter blobs keyed off the snapshot
vacuum                 expire_snapshots + remove_orphan_files
=====================  =====================================================
"""

from __future__ import annotations

from typing import Dict, List, Optional, Protocol, runtime_checkable


@runtime_checkable
class CatalogBackend(Protocol):
    """What FrontierEngine requires of a job-state catalog. Structural
    (duck-typed) and runtime-checkable: `isinstance(store, CatalogBackend)`
    verifies the method surface without inheriting anything."""

    dir: str

    # transaction log
    def last_committed(self) -> Optional[int]: ...
    def read_commit(self, r: int) -> dict: ...
    def commit_round(self, r: int, info: dict, touched_blooms: Optional[List[int]] = None) -> None: ...
    def abort_round(self, r: int) -> None: ...
    def committed_rounds(self) -> List[int]: ...

    # staging locations for round r's writes
    def round_dir(self, r: int) -> str: ...
    def new_path(self, r: int) -> str: ...
    def seen_delta_path(self, r: int) -> str: ...
    def deferred_path(self, r: int) -> str: ...
    def fcompact_path(self, r: int) -> str: ...
    def tombstones_path(self, r: int) -> str: ...
    def metrics_path(self, r: int) -> str: ...

    # seen table (merge-on-read) + compaction
    def seen_paths(self) -> List[str]: ...
    def seen_components(self) -> List[tuple]: ...
    def tombstone_components(self) -> List[tuple]: ...
    def read_seen_compact(self) -> Optional[dict]: ...
    def set_seen_compact(self, upto: int, relpath: str) -> bool: ...
    def seen_compact_dir(self) -> str: ...
    def seen_compact_staging(self, upto: int) -> str: ...

    # filter blobs + metrics + maintenance
    def bloom_blob_path(self, r: int, bucket: int, chunk: int = 0) -> str: ...
    def bloom_blobs(self, r: Optional[int] = None) -> Dict[int, List[str]]: ...
    def metrics_paths(self) -> List[str]: ...
    def vacuum(self, staging_age_s: float = 3600.0) -> Dict[str, int]: ...

