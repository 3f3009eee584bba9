"""Vocabulary dimension tables + snapshot cache (S7/S8).

The reference fetches @vocab documents over HTTP and pickles them with
Expires-driven invalidation (/root/reference/pyRdfa/rdfs/process.py:53-129,
rdfs/cache.py:226-394).  The lake-native equivalent: vocabularies are
*prefetched* into parquet snapshots by an offline job (no network in
executors, ever); the snapshot directory is the cache, keyed by vocab
IRI digest — in production this is an Iceberg table and its snapshot
log.
"""

from __future__ import annotations

import hashlib
import json
import os
import time

from pyspark.sql import DataFrame, SparkSession


def cached_vocab(spark: SparkSession, cache_dir: str, vocab_iri: str,
                 loader, ttl_seconds: float | None = None,
                 now: float | None = None) -> DataFrame:
    """Snapshot cache: ``loader(vocab_iri) -> DataFrame`` runs only on a
    cache miss or an EXPIRED snapshot; afterwards the parquet snapshot
    serves every reader.

    ``ttl_seconds`` mirrors the reference's Expires-driven invalidation
    (pyRdfa/rdfs/cache.py:226-300: a cached vocab carries an expiration
    date checked on every access; past it the cache re-fetches): each
    snapshot records ``expires`` in a sidecar manifest, and a read past
    that instant re-runs the loader and overwrites the snapshot.
    ``None`` = never expires (manual refresh: delete the snapshot, or
    on Iceberg overwrite the partition).  ``now`` is injectable for
    deterministic tests; it defaults to wall-clock time.
    """
    key = hashlib.sha256(vocab_iri.encode()).hexdigest()[:24]
    path = os.path.join(cache_dir, f"vocab-{key}")
    meta_path = path + ".meta.json"
    t = time.time() if now is None else now

    if os.path.isdir(path):
        if os.path.isfile(meta_path):
            with open(meta_path) as fh:
                meta = json.load(fh)
            expires = meta.get("expires")
            if expires is None and ttl_seconds is not None:
                # the snapshot was written WITHOUT an expiry but this
                # reader wants one: age it from its created stamp so
                # a later TTL-enforcing deployment still refreshes
                # (an unknown-age snapshot counts as expired)
                created = meta.get("created")
                expires = (t - 1 if created is None
                           else created + ttl_seconds)
            if expires is None or t < expires:
                return spark.read.parquet(path)
        elif ttl_seconds is None:
            # legacy snapshot (no manifest) + caller wants no expiry
            return spark.read.parquet(path)
        # manifest missing but a TTL was requested: the snapshot's age
        # is UNKNOWN (pre-TTL snapshot, or a crash between the parquet
        # write and the manifest write) — treat as expired rather than
        # silently serving stale vocab forever

    df = loader(vocab_iri)
    df.write.mode("overwrite").parquet(path)
    meta = {"vocab_iri": vocab_iri, "created": t,
            "expires": None if ttl_seconds is None else t + ttl_seconds}
    with open(meta_path, "w") as fh:
        json.dump(meta, fh)
    return spark.read.parquet(path)
