"""Delete-retraction escape hatch for the continuous extraction
pipeline (VERDICT r4 follow-up; reference analog: the reference's
restart-from-scratch recovery when a checkpoint no longer matches its
dataset — it rebuilds the H5 set rather than patching it).

The streaming source and the incremental tick are APPEND streams: rows
already emitted downstream are never retracted. Three upstream events
break that contract and make the derived table silently (or loudly)
diverge:

1. ``rollback_to_snapshot`` past the consumer's position — the
   consumed offset points at an abandoned branch (or beyond the new
   head); rows the consumer emitted no longer exist upstream.
2. ``expire_snapshots`` of the consumer's marker (batch path) — the
   incremental window can no longer be reconstructed
   (``ExpiredSnapshotError``).
3. Row retractions: equality/position DELETEs or INSERT OVERWRITE
   (``replace-kind: overwrite``) hitting rows the consumer already
   emitted. No error is raised — the append contract just does not
   propagate them.

The escape hatch is the same for all three: RE-BASELINE — atomically
rebuild the destination from a full extraction of the source's CURRENT
snapshot, then resume incrementally from that snapshot. For the
streaming path that means one ``overwrite`` commit on the destination
(resetting the sink's exactly-once batch marker in the SAME commit),
retiring the old checkpoint, and starting a fresh query with
``startingSequence`` pinned at the rebaselined snapshot so nothing is
re-emitted and nothing is skipped. Detection (1)/(3) is metadata-only:
the consumed offset is read from Spark's own checkpoint offset log and
compared against the source's current ancestor chain.

Compaction and ``rewrite_manifests`` snapshots (``replace-kind:
compact|rewrite-manifests``) are NOT retractions — the live row set is
unchanged — and never trigger a re-baseline. A bare ``replace`` with no
replace-kind (table written by an older version of this layer) is
treated as non-retracting; run ``rebaseline_stream_extraction``
manually if such a snapshot was a logical overwrite.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import SparkSession


def _latest_stream_offset(checkpoint_dir: str) -> dict | None:
    """The newest planned source offset in a Structured Streaming
    checkpoint (``<ckpt>/offsets/<batchId>`` — line 1 ``v1``, line 2
    engine metadata, line 3 this single source's offset JSON). None if
    the checkpoint has no offset yet (fresh query: nothing consumed,
    nothing to retract)."""
    odir = os.path.join(checkpoint_dir, "offsets")
    if not os.path.isdir(odir):
        return None
    batches = [int(f) for f in os.listdir(odir) if f.isdigit()]
    if not batches:
        return None
    with open(os.path.join(odir, str(max(batches)))) as fh:
        lines = [ln for ln in fh.read().splitlines() if ln.strip()]
    if len(lines) < 3:
        return None
    return json.loads(lines[2])


def _consumed_sequence(off: dict) -> int:
    """Source sequence number a stream offset has consumed through. A
    mid-bootstrap offset pins the bootstrap snapshot's sequence — for
    retraction checks the pinned sequence is the position."""
    return int(off.get("boot_seq", off.get("seq", 0)))


def stream_needs_rebaseline(
    source_loc: str,
    checkpoint_dir: str,
    on_upstream_delete: bool = False,
) -> str | None:
    """Metadata-only divergence check for a checkpointed stream over
    ``source_loc``: returns a human-readable reason when the stream
    cannot (or, with ``on_upstream_delete``, should not) continue
    incrementally, else None.

    - rollback past the consumed position (head behind the offset, or
      the consumed snapshot off the current ancestor chain) → always a
      reason: continuing would keep rows upstream has withdrawn and
      the source would stall or replay the abandoned branch's window.
    - ``on_upstream_delete=True`` additionally reports any retracting
      snapshot (delete / upsert-overwrite / INSERT OVERWRITE) in the
      unconsumed window — strict-consistency mode: the caller prefers a
      full rebuild over a destination that retains deleted rows.

    An offset sequence missing from metadata entirely (expired history)
    is NOT a reason by itself: sequences are never reused, the numeric
    bound still defines the window, and the ancestry walk from the
    current head covers the rest.
    """
    from htrtf_spark.sources.iceberg import (
        _ancestors,
        _retracts,
        _window,
        current_metadata,
    )

    off = _latest_stream_offset(checkpoint_dir)
    if off is None:
        return None  # nothing consumed yet — bootstrap handles state
    seq = _consumed_sequence(off)
    if seq == 0:
        return None
    meta = current_metadata(source_loc)
    chain = _ancestors(meta, meta.get("current-snapshot-id"))
    head_seq = int(chain[0]["sequence-number"]) if chain else 0
    if seq > head_seq:
        return (
            f"consumed sequence {seq} is ahead of the table head "
            f"{head_seq} — source rolled back past the stream's position"
        )
    chain_seqs = {int(s["sequence-number"]) for s in chain}
    all_seqs = {int(s["sequence-number"]) for s in meta["snapshots"]}
    if seq in all_seqs and seq not in chain_seqs:
        return (
            f"consumed sequence {seq} is on an abandoned branch "
            "(rollback_to_snapshot) — emitted rows are not in the "
            "table's live state"
        )
    if "boot_sid" in off and int(off.get("grp", 0)) < int(off.get("ngrp", 0)):
        boot_sid = int(off["boot_sid"])
        if boot_sid not in {int(s["snapshot-id"]) for s in chain}:
            return (
                f"mid-bootstrap snapshot {boot_sid} left the live branch "
                "— the pinned file groups no longer describe the table"
            )
    if on_upstream_delete:
        for s in _window(meta, seq, chain[0]):
            if _retracts(s):
                return (
                    "retracting snapshot (operation="
                    f"{s['summary']['operation']}, sequence "
                    f"{s['sequence-number']}) in the "
                    "unconsumed window and on_upstream_delete is set — "
                    "appended-only propagation would retain rows upstream "
                    "deleted"
                )
    return None


def _retire_checkpoint(checkpoint_dir: str) -> str | None:
    """Move a checkpoint aside (never delete — it is the audit trail of
    what the retired stream consumed). Returns the new path, or None if
    there was nothing to retire."""
    if not os.path.exists(checkpoint_dir):
        return None
    n = 0
    while True:
        cand = f"{checkpoint_dir.rstrip('/')}.retired-{n}"
        if not os.path.exists(cand):
            os.rename(checkpoint_dir, cand)
            return cand
        n += 1


def rebaseline_stream_extraction(
    spark: SparkSession, source_loc: str, dest_loc: str, checkpoint_dir: str
) -> dict:
    """Atomically re-baseline the streaming extraction: one
    ``overwrite`` commit replaces the destination with the extraction
    of the source's CURRENT snapshot (the stream's own kernel and
    schema — ts column carried through — run in the writing tasks) and
    resets the sink's exactly-once batch marker in that SAME commit, so
    the fresh query's batch 0 is accepted. The old checkpoint is
    retired, not deleted. Returns::

        {"pinned_snapshot": ..., "starting_sequence": ...,
         "rows": ..., "retired_checkpoint": ...}

    Resume with ``.option("startingSequence", starting_sequence)`` (the
    job wrapper does this) — the new stream begins AFTER the pinned
    snapshot: no bootstrap, no duplicate rows, no gap. Crash-safety:
    the overwrite commit and the checkpoint retire are two steps, in
    that order. A crash between them leaves the destination already
    rebaselined and the stale checkpoint still triggering
    ``stream_needs_rebaseline`` — the next run re-baselines again
    (idempotent full rebuild), never a duplicate or a gap."""
    from htrtf_spark.sources.iceberg import (
        _find_snapshot,
        current_metadata,
        overwrite_iceberg_table,
        read_iceberg_table,
        table_exists,
        write_iceberg_table,
    )
    from htrtf_spark.streaming.extract_stream import (
        _BATCH_PROP,
        STREAM_KERNEL,
        stream_input,
    )

    meta = current_metadata(source_loc)
    cur = meta["current-snapshot-id"]
    cur_seq = int(_find_snapshot(meta, cur)["sequence-number"])
    # the stream's own kernel, run inside the writing tasks over the
    # batch read of the pinned snapshot: the rebaselined rows are
    # byte-identical to what streaming emits
    src = stream_input(read_iceberg_table(spark, source_loc, snapshot_id=cur))
    props = {_BATCH_PROP: "-1"}  # fresh query's batch 0 must commit
    if table_exists(dest_loc):
        overwrite_iceberg_table(
            src, dest_loc, properties=props, kernel=STREAM_KERNEL
        )
    else:
        write_iceberg_table(src, dest_loc, properties=props, kernel=STREAM_KERNEL)
    retired = _retire_checkpoint(checkpoint_dir)
    dmeta = current_metadata(dest_loc)
    dsnap = _find_snapshot(dmeta, dmeta["current-snapshot-id"])
    return {
        "pinned_snapshot": int(cur),
        "starting_sequence": cur_seq,
        "rows": int(dsnap.get("summary", {}).get("added-records", 0)),
        "retired_checkpoint": retired,
    }
