"""Per-file key bloom filters — the per-KEY half of the GlobalIndex analog.

The bucketed layout prunes MERGE probe candidates by the batch's key-bucket
set, which is a no-op for batches touching >= B distinct buckets. Moonlink's
persisted index has no such breadth limit: it probes per key
(reference: src/moonlink/src/storage/index/persisted_bucket_hash_map.rs:276-307,
``prepare_hashes_for_lookup`` / ``search_values`` — sorted-hash probes of
mmap'd buckets). The Spark-native equivalent: every indexed data file's
manifest entry carries a small bloom filter over ``xxhash64(key)`` of its
rows, and MERGE intersects the batch's key-hash set with each candidate's
bloom — a file containing NONE of the batch's keys is pruned even when the
batch touches every bucket.

Sizing: bits_per_key=20, k=7 ⇒ per-key false-positive rate ≈ 2.3e-4
(0.6185^20). A file is kept if ANY of the batch's K absent keys false-hits,
so P(prune an unrelated file) ≈ (1-fpr)^K — narrow batches (the
post-maintenance point-update case) prune nearly everything; broad batches
degrade gracefully to the bucket/min-max prune. 20 bits/key is ~2.5 bytes of
manifest metadata per row, ~0.02% of a 15 KiB image row.

Hashing: blooms are BUILT from Spark's JVM-side ``xxhash64`` (seed 42) and
PROBED with hashes collected from the same expression — build and probe
share one hash implementation with zero Python reimplementation, the same
discipline as ``writer.bucket_id``. Bit placement uses Kirsch-Mitzenmacher
double hashing: pos_i = (h>>32) + i*(h|1) mod m.

Placement: bloom BITS live in SIDECAR index objects, one per build call
(i.e. per commit), NOT inline in manifests — a 512 MiB image file's bloom is
~85-115 KB, which inlined at 10^9 files would make manifest reads O(100 GB).
The manifest entry carries only a ~100 B reference ``{"ref": sidecar_path}``;
sidecars are loaded on demand for candidates that SURVIVE the bucket and
min/max pruning stages, and cached by path (immutable objects). This is
moonlink's separation of index files from metadata: the persisted hash index
is its own mmap-read file referenced from metadata, and index blobs ride
puffin sidecars (reference:
src/moonlink/src/storage/index/persisted_bucket_hash_map.rs:73-93;
src/moonlink/src/storage/iceberg/iceberg_table_syncer.rs:398-454).

At 10^12-image scale the bloom build is ONE column-pruned scan of the
commit's just-written files (page-cache warm, key column only) batched per
commit — never per compaction bin — and the probe is driver-side numpy over
the already-pruned candidate list's sidecars.
"""

from __future__ import annotations

import base64
import json
import os
import uuid

import numpy as np
import pandas as pd
from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from moonlink_spark.session import local_frame
from moonlink_spark.table.format import FileEntry, norm_path
from moonlink_spark.table.io import accessor_for

BLOOM_STAT = "__key_bloom"
BITS_PER_KEY = 20
NUM_HASHES = 7

# sidecar objects live next to the data files they index (same lifecycle:
# expiry/orphan GC tracks them through the entries that reference them).
# New sidecars are PUFFIN files (table/puffin.py — the reference stores its
# index blobs in puffin sidecars, iceberg_table_syncer.rs:398-454); legacy
# .bloom.json sidecars and inline blooms remain readable.
SIDECAR_SUFFIX = ".bloom.puffin"
LEGACY_SIDECAR_SUFFIX = ".bloom.json"
BLOOM_BLOB_TYPE = "moonlink-key-bloom-v1"

_PACK_SCHEMA = "f string, m long, k int, bits binary"


def _positions(hashes: np.ndarray, m: int, k: int) -> np.ndarray:
    """(k, n) bit positions for each 64-bit key hash (double hashing)."""
    h = hashes.astype(np.uint64, copy=False)
    h1 = (h >> np.uint64(32)).astype(np.uint64)
    h2 = (h | np.uint64(1)) & np.uint64(0xFFFFFFFF)
    i = np.arange(k, dtype=np.uint64)[:, None]
    return ((h1[None, :] + i * h2[None, :]) % np.uint64(m)).astype(np.int64)


def _pack(pdf: pd.DataFrame) -> pd.DataFrame:
    n = len(pdf)
    m = max(64, ((n * BITS_PER_KEY + 63) // 64) * 64)
    pos = _positions(pdf["h"].to_numpy().view(np.uint64), m, NUM_HASHES)
    bits = np.zeros(m // 8, dtype=np.uint8)
    byte_idx = pos >> 3
    bit_mask = np.left_shift(1, (pos & 7)).astype(np.uint8)
    np.bitwise_or.at(bits, byte_idx.ravel(), bit_mask.ravel())
    return pd.DataFrame(
        {
            "f": [pdf["f"].iloc[0]],
            "m": [m],
            "k": [NUM_HASHES],
            "bits": [bits.tobytes()],
        }
    )


def attach_key_blooms(
    spark: SparkSession,
    entries: list[FileEntry],
    key: str | list[str],
    sidecar_dir: str | None = None,
) -> list[FileEntry]:
    """Build one bloom per data file (over xxhash64 of its key values),
    persist ALL of them in one sidecar index object under ``sidecar_dir``
    (default: the first entry's directory), and record only the sidecar
    reference in each entry's stats. One column-pruned Spark job over the
    given files — batch per COMMIT, never per bin; mutates and returns
    ``entries``."""
    from moonlink_spark.schema import normalize_keys
    from moonlink_spark.table.scan import _norm_path

    if not entries:
        return entries
    key_cols = [F.col(c) for c in normalize_keys(key)]
    hashes = (
        spark.read.parquet(*[e.path for e in entries])
        .select(
            F.xxhash64(*key_cols).alias("h"),
            _norm_path(F.col("_metadata.file_path")).alias("f"),
        )
    )
    rows = hashes.groupBy("f").applyInPandas(_pack, schema=_PACK_SCHEMA).collect()
    by_norm = {
        r["f"]: {"m": r["m"], "k": r["k"], "bits": bytes(r["bits"])} for r in rows
    }
    # keyed by the manifest path, which is what every lookup has in hand
    blooms = {
        e.path: by_norm[norm_path(e.path)]
        for e in entries
        if norm_path(e.path) in by_norm
    }
    if not blooms:
        return entries
    from moonlink_spark.table.puffin import write_puffin

    d = sidecar_dir or os.path.dirname(entries[0].path)
    sidecar = os.path.join(d, f"index-{uuid.uuid4().hex[:12]}{SIDECAR_SUFFIX}")
    write_puffin(
        sidecar,
        [
            (
                BLOOM_BLOB_TYPE,
                kb["bits"],
                {
                    "referenced-data-file": f,
                    "m": str(kb["m"]),
                    "k": str(kb["k"]),
                },
            )
            for f, kb in sorted(blooms.items())
        ],
    )
    _sidecar_cache.put(sidecar, blooms)
    for e in entries:
        if e.path in blooms:
            e.stats[BLOOM_STAT] = {"ref": sidecar}
    return entries


# sidecar objects are immutable (uuid names) — cache parsed content by path;
# bounded so long-lived drivers don't accumulate history
class _SidecarLRU(dict):
    MAX = 256

    def put(self, k, v):
        if k in self:
            del self[k]
        elif len(self) >= self.MAX:
            del self[next(iter(self))]
        self[k] = v


_sidecar_cache = _SidecarLRU()


def bloom_sidecar_path(entry: FileEntry) -> str | None:
    """Sidecar object referenced by this entry's bloom, if any — expiry and
    orphan GC must treat it as referenced exactly like ``entry.path``."""
    kb = entry.stats.get(BLOOM_STAT)
    if isinstance(kb, dict):
        return kb.get("ref")
    return None


def load_sidecar(ref: str) -> dict:
    """Load a bloom sidecar (puffin or legacy JSON) as
    ``{data_file_path: {m, k, bits|b64}}``. A missing sidecar degrades to
    an empty map — blooms are an optimization, never a filter."""
    try:
        if ref.endswith(LEGACY_SIDECAR_SUFFIX):
            return json.loads(accessor_for(ref).read_text(ref))["blooms"]
        from moonlink_spark.table.puffin import read_all_blobs

        return {
            m.properties["referenced-data-file"]: {
                "m": int(m.properties["m"]),
                "k": int(m.properties["k"]),
                "bits": payload,
            }
            for m, payload in read_all_blobs(ref)
            if m.type == BLOOM_BLOB_TYPE
        }
    except FileNotFoundError:
        # sidecar gone (manual cleanup / partial restore): degrade to
        # "may contain", never fail
        return {}


def bloom_may_contain_any(entry: FileEntry, key_hashes: np.ndarray) -> bool:
    """True if the file's bloom admits ANY of ``key_hashes`` (or the file has
    no bloom — blooms are an optimization, never a filter)."""
    kb = entry.stats.get(BLOOM_STAT)
    if not kb:
        return True
    if "ref" in kb:  # sidecar form; legacy manifests carry the bloom inline
        blooms = _sidecar_cache.get(kb["ref"])
        if blooms is None:
            blooms = load_sidecar(kb["ref"])
            _sidecar_cache.put(kb["ref"], blooms)
        kb = blooms.get(entry.path)
        if not kb:
            return True
    # chunked with early exit: a file that DOES contain batch keys (the
    # common case for hot files) resolves on the first chunk
    return _bits_may_contain_any(kb, key_hashes)


def prune_by_bloom(
    entries: list[FileEntry], key_hashes: np.ndarray
) -> list[FileEntry]:
    """Keep only files whose bloom admits at least one batch key (files
    without blooms — fresh unbucketized flushes — are always kept)."""
    if len(key_hashes) == 0:
        return []
    h = np.asarray(key_hashes, dtype=np.int64).view(np.uint64)
    return [e for e in entries if bloom_may_contain_any(e, h)]


#: above this many sidecar-bloomed candidates the probe runs as a Spark job
#: (driver work/memory stays O(survivors)); below it, driver numpy is faster
#: than a job round-trip. Tests override to force either path.
DISTRIBUTED_PROBE_MIN = 256


def prune_by_bloom_distributed(
    spark: SparkSession, entries: list[FileEntry], key_hashes: np.ndarray
) -> list[FileEntry]:
    """``prune_by_bloom`` semantics with the probe fanned out as one Spark
    job: candidates are grouped by sidecar ref (one sidecar load per group,
    in the executor that probes it) against a broadcast of the batch's key
    hashes, and the driver collects only SURVIVING paths. At the 10^9-file
    design point a broad batch can leave 10^5-10^6 post-min/max candidates —
    a driver loop over that many sidecar loads is the old GlobalIndex wall;
    this keeps the driver at O(survivors) like the manifest planner
    (reference probe semantics: persisted_bucket_hash_map.rs:276-307).

    Falls back to the driver loop for small candidate lists (a Spark job
    costs more than probing a handful of cached sidecars) and for entries
    without a sidecar ref (legacy inline blooms / fresh unbloomed flushes)."""
    if len(key_hashes) == 0:
        return []
    h = np.asarray(key_hashes, dtype=np.int64).view(np.uint64)
    with_ref = [(e, bloom_sidecar_path(e)) for e in entries]
    local = [e for e, r in with_ref if r is None]
    remote = [(e, r) for e, r in with_ref if r is not None]
    if len(remote) < DISTRIBUTED_PROBE_MIN:
        return prune_by_bloom(entries, key_hashes)

    kept_local = [e for e in local if bloom_may_contain_any(e, h)]
    bc = spark.sparkContext.broadcast(h.tobytes())

    def probe(pdfs):
        hashes = np.frombuffer(bc.value, dtype=np.uint64)
        for pdf in pdfs:
            keep = []
            for ref, grp in pdf.groupby("ref", sort=False):
                blooms = load_sidecar(ref)
                for path in grp["path"]:
                    kb = blooms.get(path)
                    if kb is None or _bits_may_contain_any(kb, hashes):
                        keep.append(path)
            yield pd.DataFrame({"path": keep})

    cand = local_frame(
        spark, [(e.path, r) for e, r in remote], "path string, ref string"
    ).repartition("ref")
    surviving = {
        r["path"]
        for r in cand.mapInPandas(probe, schema="path string").collect()
    }
    by_path = {e.path: e for e, _ in remote}
    return kept_local + [by_path[p] for p in sorted(surviving)]


def _bits_may_contain_any(kb: dict, key_hashes: np.ndarray) -> bool:
    """Membership test against one packed bloom dict {m,k,bits} (binary
    puffin form) or {m,k,b64} (legacy JSON/inline form)."""
    raw = kb["bits"] if "bits" in kb else base64.b64decode(kb["b64"])
    bits = np.frombuffer(raw, dtype=np.uint8)
    m, k = int(kb["m"]), int(kb["k"])
    for lo in range(0, len(key_hashes), 4096):
        chunk = key_hashes[lo : lo + 4096]
        pos = _positions(chunk, m, k)
        hit = (bits[pos >> 3] & np.left_shift(1, (pos & 7)).astype(np.uint8)) != 0
        if bool(hit.all(axis=0).any()):
            return True
    return False
