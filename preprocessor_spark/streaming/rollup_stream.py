"""Streaming refresh of a rollup_job output: each Structured Streaming
micro-batch is one appended delta, absorbed by plans/refresh_job.absorb.
So a streamed tree gets what a batch refresh gives: the late-data and
stale-tail refusals, the z-score and MA-unbias continuation, the tier
merge, the block re-encode and the manifest's double-apply guard.

The contract is the refresh job's: the tree comes from rollup_job, the
micro-batches are append-only per source (a row before its series' edge
is refused), and the first micro-batch needs ``corpus`` (the build's input)
to bootstrap the MA carry tail, like the job's ``--input``.
"""

from __future__ import annotations

import hashlib
import os

from pyspark.sql import DataFrame
from pyspark.sql.streaming import StreamingQuery

from preprocessor_spark.plans import refresh_job
from preprocessor_spark.rollup.checkpoint import Manifest


def stream_refresh_tiers(
    stream: DataFrame,
    out: str,
    checkpoint: str,
    corpus: str | None = None,
    available_now: bool = True,
) -> StreamingQuery:
    """Absorb every micro-batch of ``stream`` into the rollup_job output
    ``out``. ``available_now`` processes what the source holds and then
    stops; a continuous deployment drops it."""
    writer = stream.writeStream.foreachBatch(
        make_refresh_batch(out, _checkpoint_key(checkpoint), corpus)
    ).option("checkpointLocation", checkpoint)
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def _checkpoint_key(checkpoint: str) -> str:
    """Stable identity of a streaming run's checkpoint: epoch ids restart
    at 0 for every NEW checkpoint, so a micro-batch's fingerprint must be
    scoped to the checkpoint, or a later query against the same tree
    would be refused its first batches as already absorbed. Restarts from
    the SAME checkpoint continue its epoch sequence, so the same key keeps
    recognising true replays.

    URI locations (hdfs://, s3a://, file:// — the normal cluster forms) are
    keyed verbatim: os.path.abspath would prepend the DRIVER'S cwd, which
    differs per container, so a restart of the same checkpoint would get a
    different key and a replay would be absorbed twice. Only bare local
    paths are absolutized (a relative path from a different cwd IS a
    different directory)."""
    ident = checkpoint if "://" in checkpoint else os.path.abspath(checkpoint)
    return hashlib.md5(ident.rstrip("/").encode()).hexdigest()[:12]


def make_refresh_batch(out: str, run_key: str, corpus: str | None = None):
    """The foreachBatch callback behind :func:`stream_refresh_tiers`:
    micro-batch ``epoch_id`` is absorbed under the fingerprint
    ``f"{run_key}:{epoch_id}"``.

    foreachBatch is at-least-once: after a crash between the manifest's
    completion mark and the checkpoint's commit, Spark runs the epoch
    again. A completed epoch therefore returns without work; raising would
    stop the query at every restart. An epoch that started but never
    completed may be partly in the tree, and ``absorb``'s own guard
    refuses it."""
    manifest = Manifest(os.path.join(out, "manifest.jsonl"))

    def refresh_batch(batch_df: DataFrame, epoch_id: int) -> None:
        fingerprint = f"{run_key}:{epoch_id}"
        if fingerprint in manifest.completed("refresh_delta"):
            return
        refresh_job.absorb(
            batch_df.sparkSession,
            out,
            batch_df,
            corpus=corpus,
            fingerprint=fingerprint,
        )

    return refresh_batch
