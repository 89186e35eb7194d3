"""Dataset mutation surface: add / update / archive / restore / purge.

Mirrors the reference's index write API (``datacube/index/abstract.py``:
``add`` :828, ``update`` :861, ``archive`` :895, ``restore`` :989,
``purge`` :1004-ish; archived-IS-NULL read semantics at
``drivers/postgres/_api.py:545``) against a columnar lake layout.

Design (Spark-first, no in-place updates): an **event-sourced append-only
log**.  Every mutation appends rows ``(payload..., _seq, _tie, _op,
_archived)``; the current state of a dataset is its highest-``_seq``
event ("last writer wins" — exactly an Iceberg MoR position-delete /
upsert snapshot chain, expressed as parquet appends in this sandbox).
Reads resolve state with one window (max-seq per id), then apply the
implicit ``archived IS NULL`` filter.  Nothing is rewritten: `archive`
appends a tombstone-with-timestamp, `restore` appends a clear, `purge`
appends a hard tombstone that drops the id from every read (a real
catalog would also vacuum the data files; the log keeps the audit trail
the reference keeps in Postgres).

Scale notes: appends are blind writes (no read-modify-write); state
resolution is one hash-shuffle by id.  Read amplification over a long
event history is bounded by the MAINTENANCE pair (r6): ``checkpoint()``
materializes the resolved state at the committed frontier (reads then
resolve basis ∪ suffix, every snapshot still reachable — the
non-destructive Iceberg ``rewrite_data_files`` analog) and
``expire_log()`` deletes the checkpointed log prefix (the
``expire_snapshots`` analog; time travel below the floor raises rather
than answering wrong).  ``compact()`` remains the one-step destructive
rewrite.
"""

from __future__ import annotations

import os
import threading
import uuid
from typing import Iterable, Optional

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..frames import local_frame

OPS = ("add", "update", "archive", "restore", "purge")


class DatasetStore:
    """Event-sourced dataset catalog over a parquet log.

    Concurrency contract (multi-writer, optimistic commit markers): every
    mutation claims its ``_seq`` through a compare-and-swap on the marker
    directory ``<base>/dataset_log_commits`` — ``O_CREAT|O_EXCL`` on
    ``<seq>.claim`` before writing data, ``<seq>.done`` after the parquet
    append lands.  Claims are therefore UNIQUE (two writers never share a
    seq — the loser retries at seq+1, exactly an Iceberg optimistic
    commit), and reads clamp to the COMMITTED FRONTIER: the highest seq
    below which every claim is finalized.  Consequences:

    * ``current(as_of=latest_seq())`` is stable — a slow concurrent
      writer's rows can never land "under" a captured snapshot, because
      its claim (created before its data) holds the frontier back until
      it finalizes.
    * last-writer-wins between writers is seq order (claim order), not a
      nonce comparison; the ``_tie`` column remains only to disambiguate
      legacy pre-marker logs where equal seqs exist.
    * a writer that crashes between claim and finalize parks the frontier
      — :meth:`abort_stale_claims` is the orphaned-commit cleanup
      (Iceberg's expire-orphans analog).
    * read-your-own-writes holds except while ANOTHER writer's earlier
      claim is still in flight (your committed rows surface the moment it
      finalizes or is aborted) — the prefix-consistency price; a real
      Iceberg catalog serializes commits at the catalog swap instead.
    * ``compact()`` remains an exclusive maintenance operation: it
      rewrites the whole log directory and must not race other writers
      (same as Iceberg rewrite_data_files under a maintenance lock).

    The marker CAS relies on atomic exclusive-create in the log's
    filesystem (true for POSIX local/NFSv4/HDFS; on S3 you would swap
    this seam for a real Iceberg/Glue catalog commit).

    SCOPE of the multi-writer guarantees: seq uniqueness, snapshot
    stability, and frontier clamping are guaranteed under concurrency.
    PRECONDITION checks are not — :meth:`add`'s duplicate check,
    :meth:`update`'s must-exist check, and :meth:`purge`'s existence
    check are read-then-write: two concurrent writers can both pass the
    check before either commit lands (e.g. the same id added twice,
    resolved only by last-writer-wins at read).  Those checks are
    single-writer semantics unless commits are serialized externally —
    the same gap an Iceberg optimistic commit has for application-level
    invariants, which real deployments close with a catalog-level
    conditional commit or an upstream queue."""

    #: seconds between claim-file heartbeat touches during a commit write
    _HEARTBEAT_S = 30.0

    def __init__(self, spark: SparkSession, base_path: str, id_col: str = "id", id_type: str = "LONG"):
        self.spark = spark
        self.base = base_path.rstrip("/")
        self.id_col = id_col
        self.id_type = id_type  # SQL type of the id column (LONG, STRING/uuid, ...)
        self.log_path = f"{self.base}/dataset_log"
        self.commits_path = f"{self.base}/dataset_log_commits"
        self.checkpoints_path = f"{self.base}/dataset_log_ckpt"
        # legacy max seq (pre-marker logs) — computed LAZILY on first
        # write: a read-only store (ProductCatalog.rules, CLI
        # product-list, ...) must not pay a cluster aggregation job just
        # to construct.
        self._seq: Optional[int] = None
        self._tie = uuid.uuid4().hex[:12]

    # -- internals ----------------------------------------------------------

    def _max_logged_seq(self) -> int:
        log = self._log()
        if log is None:
            return 0
        mx = log.agg(F.max("_seq")).collect()[0][0]
        return int(mx) if mx is not None else 0

    def _scan_markers(self) -> tuple:
        """(claimed_seqs, finalized_seqs) from the commit-marker dir."""
        try:
            names = os.listdir(self.commits_path)
        except FileNotFoundError:
            return set(), set()
        claims, done = set(), set()
        for n in names:
            if n.endswith(".claim"):
                claims.add(int(n[: -len(".claim")]))
            elif n.endswith(".done"):
                done.add(int(n[: -len(".done")]))
        return claims, done

    def _committed_frontier(self) -> Optional[int]:
        """Highest seq with every claim at-or-below finalized; ``None`` if
        the log predates commit markers (legacy single-writer layout)."""
        claims, done = self._scan_markers()
        if not claims and not done:
            return None
        pending = sorted(claims - done)
        if pending:
            return pending[0] - 1
        return max(done)

    def _ckpt_seqs(self) -> list:
        """Finalized checkpoint seqs (ascending).  A checkpoint is the
        resolved state at a committed frontier, materialized under
        ``<base>/dataset_log_ckpt/ckpt<seq>`` with a ``<seq>.done``
        marker written AFTER the parquet lands (same marker discipline as
        commits: a crashed checkpoint writer leaves no half-visible
        basis)."""
        try:
            names = os.listdir(self.checkpoints_path)
        except FileNotFoundError:
            return []
        return sorted(int(n[: -len(".done")]) for n in names if n.endswith(".done"))

    def _expiry_floor(self) -> int:
        """Lowest seq whose events are guaranteed retained; 0 when no
        expiry has run.  Time-travel strictly below the floor raises
        (the events are gone — answering from a partial log would be
        silently wrong, the one thing a snapshot store must never do)."""
        try:
            with open(f"{self.checkpoints_path}/expired_upto") as fh:
                return int(fh.read().strip() or 0)
        except (FileNotFoundError, ValueError):
            return 0

    def _next_seq(self) -> int:
        """Claim the next seq via CAS on the marker dir: exclusive-create
        of ``<seq>.claim`` — on collision, retry one higher.  Unique
        across concurrent writers by construction."""
        os.makedirs(self.commits_path, exist_ok=True)
        if self._seq is None:
            claims, done = self._scan_markers()
            marker_hi = max(claims | done) if (claims or done) else 0
            # the log max matters too: a MIXED dir (legacy pre-marker
            # writer appended raw rows above the last marked seq) must
            # not get its seqs reused
            self._seq = max(marker_hi, self._max_logged_seq())
        n = self._seq + 1
        while True:
            try:
                fd = os.open(
                    f"{self.commits_path}/{n:020d}.claim",
                    os.O_CREAT | os.O_EXCL | os.O_WRONLY,
                )
                os.write(fd, self._tie.encode())
                os.close(fd)
                self._seq = n
                return n
            except FileExistsError:
                n += 1

    def _finalize(self, seq: int) -> None:
        with open(f"{self.commits_path}/{seq:020d}.done", "w") as fh:
            fh.write(self._tie)

    def _write_commit(self, out: DataFrame, seq: int) -> None:
        """Land one commit's rows in its OWN subdirectory, then finalize.
        Concurrent appends into a single parquet dir race on the shared
        Hadoop committer ``_temporary`` staging dir (one job's cleanup
        deletes the other's attempts — observed); per-commit dirs give
        each job a private committer workspace, the Iceberg
        unique-data-file discipline.

        While the Spark write runs, a heartbeat thread touches the
        ``.claim`` file every ``_HEARTBEAT_S`` so its mtime tracks
        LIVENESS, not claim age: :meth:`abort_stale_claims`'s TTL then
        cannot force-finalize a slow-but-alive writer whose append merely
        outlasts the TTL (it would land rows below an already-captured
        frontier, retroactively mutating snapshots)."""
        claim = f"{self.commits_path}/{seq:020d}.claim"
        stop = threading.Event()

        def _beat() -> None:
            while not stop.wait(self._HEARTBEAT_S):
                try:
                    os.utime(claim)
                except OSError:
                    # Distinguish "claim resolved/removed under us" (stop
                    # quietly) from a TRANSIENT utime failure (EIO/EINTR
                    # class on network filesystems): only the former may
                    # end the heartbeat — a transient error must not
                    # silently re-open the force-finalize-a-live-writer
                    # race this thread exists to close, so keep beating
                    # while the claim file still exists.
                    if not os.path.exists(claim):
                        return

        hb = threading.Thread(target=_beat, name=f"claim-heartbeat-{seq}", daemon=True)
        hb.start()
        try:
            try:
                out.write.mode("error").parquet(f"{self.log_path}/c{seq:020d}")
            except BaseException:
                # release the claim so a surviving process doesn't park the
                # frontier for every other writer: a failed Spark write
                # commits nothing (the committer only publishes at job
                # commit), so finalizing records an EMPTY commit — the
                # in-process analog of abort_stale_claims
                self._finalize(seq)
                raise
            self._finalize(seq)
        finally:
            stop.set()
            hb.join(timeout=5.0)

    def abort_stale_claims(self, ttl_s: float = 3600.0) -> list:
        """Resolve claims older than ``ttl_s`` with no finalize — a
        crashed writer's parked commit holding the frontier back.  The
        stale claim is force-finalized: whatever rows the dead writer DID
        land at that seq become visible (the "commit landed, writer died
        before acking" case); if none landed it is an empty commit and the
        frontier simply advances past it.  Returns resolved seqs.  This is
        the orphaned-commit cleanup an Iceberg catalog runs as
        maintenance.  Staleness is judged by claim-file MTIME, and
        :meth:`_write_commit` heartbeats (``os.utime``) its claim every
        ``_HEARTBEAT_S`` while its Spark write runs, so a slow-but-ALIVE
        writer is not force-finalized as long as ``ttl_s`` comfortably
        exceeds the heartbeat interval (keep ``ttl_s`` ≥ 10×
        ``_HEARTBEAT_S``); only a writer whose process actually died goes
        quiet long enough to cross the TTL."""
        import time as _time

        claims, done = self._scan_markers()
        aborted = []
        now = _time.time()
        for n in sorted(claims - done):
            p = f"{self.commits_path}/{n:020d}.claim"
            try:
                if now - os.path.getmtime(p) >= ttl_s:
                    # finalize-as-empty rather than delete: the frontier
                    # may then advance past it; any rows the dead writer
                    # DID land at this seq become visible, which matches
                    # "commit landed, writer died before acking"
                    self._finalize(n)
                    aborted.append(n)
            except FileNotFoundError:
                pass
        return aborted

    def _log(self) -> Optional[DataFrame]:
        if not os.path.isdir(self.log_path):
            return None
        try:
            # mergeSchema: a log written by a pre-`_tie` version (or a
            # mixed old+new dir) must still read with the column present
            # rather than depending on which file's schema parquet picks.
            # recursiveFileLookup: commits live in per-seq subdirectories
            # (see _append — concurrent writers must not share a Hadoop
            # committer _temporary dir); legacy flat files still match.
            df = (
                self.spark.read.option("mergeSchema", "true")
                .option("recursiveFileLookup", "true")
                .parquet(self.log_path)
            )
        except Exception:
            return None
        if "_tie" not in df.columns:
            df = df.withColumn("_tie", F.lit(""))
        else:
            df = df.withColumn("_tie", F.coalesce(F.col("_tie"), F.lit("")))
        return df

    def _append(self, df: DataFrame, op: str, archived_ts=None, archived_col: Optional[str] = None) -> None:
        """Single log-write path.  ``archived_col``: per-row archived
        timestamps carried from a prior state (column is consumed);
        otherwise the constant ``archived_ts`` applies to the batch."""
        seq = self._next_seq()
        arch = (
            F.col(archived_col).cast("timestamp")
            if archived_col is not None
            else F.lit(archived_ts).cast("timestamp")
        )
        out = (
            df.withColumn("_seq", F.lit(seq))
            .withColumn("_tie", F.lit(self._tie))
            .withColumn("_op", F.lit(op))
            .withColumn("_archived", arch)
        )
        if archived_col is not None:
            out = out.drop(archived_col)
        self._write_commit(out, seq)

    def _ids_df(self, ids: Iterable) -> DataFrame:
        rows = [(i,) for i in ids]
        return local_frame(self.spark, rows, f"{self.id_col} {self.id_type}")

    def _state(self, as_of: Optional[int] = None, committed_only: bool = True) -> Optional[DataFrame]:
        """Last event per id (purge events included); ``as_of`` rewinds to
        the state after seq ``as_of`` — the Iceberg snapshot / time-travel
        analog, free on an event-sourced log (filter, then the same
        last-writer-wins window).

        ``committed_only=False`` is the WRITE-SIDE view: it skips the
        frontier clamp so precondition checks (duplicate add, update-must-
        exist, purge targets) see every physically-landed row, including
        commits parked behind another writer's in-flight claim — otherwise
        add() could double-add an id whose committed row is temporarily
        hidden.  Read paths always use the committed view."""
        floor = self._expiry_floor()
        if as_of is not None and as_of < floor:
            raise ValueError(
                f"time travel to seq {as_of} is below the expiry horizon "
                f"{floor}: those log events were removed by expire_log() "
                f"(Iceberg expire_snapshots analog)"
            )
        # checkpoint basis: the newest finalized checkpoint at or below
        # the requested view replaces replaying the log prefix — read
        # amplification is bounded by (one checkpoint + the log suffix)
        # instead of the whole event history.  Correctness needs nothing
        # special: checkpoint rows keep their original (_seq, _tie), so
        # the same last-writer-wins window resolves basis ∪ suffix.
        cks = [c for c in self._ckpt_seqs() if as_of is None or c <= as_of]
        base = max(cks) if cks else None
        log = self._log()
        if log is not None and base is not None:
            log = log.where(F.col("_seq") > F.lit(int(base)))
        if log is None and base is None:
            return None
        # clamp to the committed frontier: MARKER-PROTOCOL seqs above the
        # frontier (claimed-in-flight, or committed past a parked claim)
        # are invisible, so every read and every captured as_of is a
        # stable committed prefix.  Seqs with no marker at all are legacy
        # pre-protocol rows and stay visible (no stability promise for
        # out-of-protocol writers).  The hidden list is tiny: in-flight
        # writers + commits parked behind a stale claim (bounded by the
        # abort TTL).  (Checkpoint rows need no clamp: a checkpoint's
        # basis is a committed frontier by construction.)
        frontier = self._committed_frontier() if committed_only else None
        if log is not None and frontier is not None:
            claims, done = self._scan_markers()
            hidden = sorted(s for s in (claims | done) if s > frontier)
            if hidden:
                log = log.where(~F.col("_seq").isin(hidden))
        if log is not None and as_of is not None:
            log = log.where(F.col("_seq") <= F.lit(int(as_of)))
        if base is not None:
            bdf = self.spark.read.parquet(f"{self.checkpoints_path}/ckpt{base:020d}")
            log = bdf if log is None else log.unionByName(bdf, allowMissingColumns=True)
        w = Window.partitionBy(self.id_col).orderBy(F.col("_seq").desc(), F.col("_tie").desc())
        return log.withColumn("_rn", F.row_number().over(w)).where(F.col("_rn") == 1).drop("_rn")

    def latest_seq(self) -> int:
        """Highest committed seq — a snapshot id for :meth:`current`'s
        ``as_of`` (capture before a mutation batch, read consistently
        after).  With commit markers present this is the committed
        frontier (no cluster job); legacy marker-less logs fall back to
        a max-seq aggregation."""
        frontier = self._committed_frontier()
        if frontier is not None:
            return frontier
        return self._max_logged_seq()

    def history(self, dataset_id) -> DataFrame:
        """Full event chain for one dataset, oldest first: (payload...,
        _seq, _op, _archived) — the audit trail the reference keeps in
        Postgres (dataset archived/added timestamps)."""
        log = self._log()
        if log is None:
            raise ValueError("empty store: nothing added yet")
        return (
            log.join(F.broadcast(self._ids_df([dataset_id])), on=self.id_col, how="left_semi")
            .orderBy(F.col("_seq").asc(), F.col("_tie").asc())
            .drop("_tie")
        )

    # -- read side -----------------------------------------------------------

    def current(self, include_archived: bool = False, as_of: Optional[int] = None) -> DataFrame:
        """Live dataset rows; implicit ``archived IS NULL`` unless
        ``include_archived`` (then `_archived` carries the timestamp).
        ``as_of=<seq>`` time-travels to the state after that mutation
        (see :meth:`latest_seq`)."""
        st = self._state(as_of=as_of)
        if st is None:
            raise ValueError("empty store: nothing added yet")
        live = st.where(F.col("_op") != "purge")
        if not include_archived:
            live = live.where(F.col("_archived").isNull())
        return live.drop("_seq", "_tie", "_op")

    def has(self, dataset_id) -> bool:
        return self.bulk_has([dataset_id])[0]

    def bulk_has(self, ids: Iterable) -> list:
        st = self._state()
        ids = list(ids)
        if st is None:
            return [False] * len(ids)
        present = {
            r[self.id_col]
            for r in st.where(F.col("_op") != "purge")
            .join(F.broadcast(self._ids_df(ids)), on=self.id_col, how="left_semi")
            .select(self.id_col)
            .collect()
        }
        return [i in present for i in ids]

    # -- write side ----------------------------------------------------------

    def add(self, df: DataFrame, skip_existing: bool = False) -> int:
        """Insert new datasets; re-adding an existing id raises (the
        reference logs-and-skips with ``add``'s duplicate check) unless
        ``skip_existing``.  Returns rows added.

        Intra-batch duplicate ids collapse to ONE row (first by a
        deterministic all-column sort): rows of one append share
        (_seq, _tie), so two payloads for one id in a batch would read
        back nondeterministically."""
        dup = (
            df.groupBy(self.id_col).agg(F.count("*").alias("n"))
            .where(F.col("n") > 1).limit(1).collect()
        )
        if dup:
            w = Window.partitionBy(self.id_col).orderBy(
                *[F.col(c).asc_nulls_last() for c in df.columns]
            )
            df = df.withColumn("_rn", F.row_number().over(w)).where(F.col("_rn") == 1).drop("_rn")
        # WRITE view (committed_only=False): the duplicate check must see
        # rows committed past a parked frontier, or add() double-adds
        st = self._state(committed_only=False)
        if st is not None:
            existing = st.where(F.col("_op") != "purge").select(self.id_col)
            clash = df.join(existing, on=self.id_col, how="left_semi")
            if skip_existing:
                df = df.join(existing, on=self.id_col, how="left_anti")
            else:
                first = clash.limit(1).collect()
                if first:
                    raise ValueError(f"dataset already exists: {first[0][self.id_col]}")
        n = df.count()
        if n:
            self._append(df, "add")
        return n

    def update(self, df: DataFrame) -> int:
        """Replace payload of EXISTING datasets (reference ``update``
        :861 — updating a missing dataset is an error).

        Archived state is PRESERVED: an update replaces the payload only;
        a dataset archived before the update stays archived (the
        reference keeps ``archived`` beside the doc — ``dataset update``
        never clears it).  Un-archiving is ``restore``'s job.

        Intra-batch duplicate ids are an error: every row of one append
        shares (_seq, _tie), so two updates of the same id in one batch
        would make last-writer-wins nondeterministic (the same reason
        ProductCatalog.add_documents dedupes within-batch) — callers must
        pick ONE payload per id per batch."""
        st = self._state(committed_only=False)  # write view, see add()
        missing = None
        if st is None:
            missing = df.limit(1).collect()
        else:
            existing = st.where(F.col("_op") != "purge").select(self.id_col)
            missing = df.join(existing, on=self.id_col, how="left_anti").limit(1).collect()
        if missing:
            raise ValueError(f"cannot update missing dataset: {missing[0][self.id_col]}")
        dup = (
            df.groupBy(self.id_col).agg(F.count("*").alias("n"))
            .where(F.col("n") > 1).limit(1).collect()
        )
        if dup:
            raise ValueError(
                f"duplicate id in one update batch: {dup[0][self.id_col]} "
                "(rows of one append share (_seq, _tie) — pick one payload per id)"
            )
        n = df.count()
        if n:
            prev = st.where(F.col("_op") != "purge").select(
                self.id_col, F.col("_archived").alias("_prev_archived")
            )
            self._append(
                df.join(prev, on=self.id_col, how="left"),
                "update",
                archived_col="_prev_archived",
            )
        return n

    def _payload_for(self, ids_df: DataFrame) -> DataFrame:
        st = self._state(committed_only=False)  # write view, see add()
        if st is None:
            return ids_df.limit(0)
        return (
            st.where(F.col("_op") != "purge")
            .join(F.broadcast(ids_df), on=self.id_col, how="left_semi")
            .drop("_seq", "_tie", "_op", "_archived")
        )

    def archive(self, ids: Iterable) -> int:
        """Soft-delete: mark archived with the current timestamp
        (reference ``archive`` :895)."""
        rows = self._payload_for(self._ids_df(ids))
        n = rows.count()
        if n:
            seq = self._next_seq()
            out = (
                rows.withColumn("_seq", F.lit(seq))
                .withColumn("_tie", F.lit(self._tie))
                .withColumn("_op", F.lit("archive"))
                .withColumn("_archived", F.current_timestamp())
            )
            self._write_commit(out, seq)
        return n

    def restore(self, ids: Iterable) -> int:
        """Clear the archived mark (reference ``restore`` :989)."""
        rows = self._payload_for(self._ids_df(ids))
        n = rows.count()
        if n:
            self._append(rows, "restore")
        return n

    def purge(self, ids: Iterable, allow_non_archived: bool = False) -> int:
        """Hard-delete from every read.  Only archived datasets may be
        purged unless ``allow_non_archived`` (reference purge contract)."""
        ids_df = self._ids_df(ids)
        st = self._state(committed_only=False)  # write view, see add()
        if st is None:
            return 0
        targets = st.where(F.col("_op") != "purge").join(
            F.broadcast(ids_df), on=self.id_col, how="left_semi"
        )
        if not allow_non_archived:
            bad = targets.where(F.col("_archived").isNull()).limit(1).collect()
            if bad:
                raise ValueError(
                    f"cannot purge non-archived dataset {bad[0][self.id_col]} "
                    "(pass allow_non_archived=True to force)"
                )
        rows = targets.drop("_seq", "_tie", "_op", "_archived")
        n = rows.count()
        if n:
            self._append(rows, "purge")
        return n

    # -- maintenance ---------------------------------------------------------

    def checkpoint(self) -> int:
        """Materialize the resolved state at the committed frontier as a
        CHECKPOINT — the non-destructive half of Iceberg's
        ``rewrite_data_files``: reads thereafter resolve (checkpoint +
        log suffix) instead of replaying the whole event history, while
        every snapshot stays reachable (``current(as_of=...)`` below the
        checkpoint still replays the retained log).  Safe under
        concurrent writers: the basis is the committed frontier, which a
        later in-flight commit cannot reach under (claim-before-data),
        and the ``.done`` marker lands only after the parquet does.
        Idempotent per frontier.  Returns the checkpoint seq (0 = empty
        store, nothing to do)."""
        n = self.latest_seq()
        if n == 0:
            return 0
        if n in self._ckpt_seqs():
            return n
        # purge rows are RETAINED in the checkpoint: a purge is state
        # ("this id is dead"), and dropping it would resurrect the id's
        # older events on any time travel above the checkpoint
        st = self._state(as_of=n)
        os.makedirs(self.checkpoints_path, exist_ok=True)
        st.write.mode("overwrite").parquet(f"{self.checkpoints_path}/ckpt{n:020d}")
        with open(f"{self.checkpoints_path}/{n:020d}.done", "w") as fh:
            fh.write(self._tie)
        return n

    def expire_log(self, upto: Optional[int] = None) -> int:
        """Delete per-commit log directories at or below a CHECKPOINTED
        seq — the Iceberg ``expire_snapshots`` analog, and the explicit
        destructive step :meth:`checkpoint` is not.  ``upto`` must be a
        finalized checkpoint seq (default: the newest); afterwards
        ``current()``/``as_of ≥ upto`` are unchanged (served from the
        checkpoint), while time travel and :meth:`history` strictly below
        it raise / truncate.  Returns the number of commit dirs removed.
        Like compact(), run it as a maintenance operation, not
        concurrently with another expire/compact."""
        import shutil

        cks = self._ckpt_seqs()
        if not cks:
            raise ValueError("expire_log needs a finalized checkpoint; run checkpoint() first")
        upto = max(cks) if upto is None else int(upto)
        if upto not in cks:
            raise ValueError(f"seq {upto} is not a finalized checkpoint (have {cks})")
        removed = 0
        if os.path.isdir(self.log_path):
            for name in sorted(os.listdir(self.log_path)):
                if not name.startswith("c"):
                    continue
                try:
                    seq = int(name[1:])
                except ValueError:
                    continue
                if seq <= upto:
                    shutil.rmtree(f"{self.log_path}/{name}")
                    removed += 1
        floor = max(self._expiry_floor(), upto)
        with open(f"{self.checkpoints_path}/expired_upto", "w") as fh:
            fh.write(str(floor))
        # checkpoints BELOW the floor are no longer reachable as a basis
        # for any legal read (as_of < floor raises) — drop them too
        for c in cks:
            if c < floor:
                shutil.rmtree(f"{self.checkpoints_path}/ckpt{c:020d}", ignore_errors=True)
                try:
                    os.remove(f"{self.checkpoints_path}/{c:020d}.done")
                except FileNotFoundError:
                    pass
        return removed

    def compact(self) -> int:
        """Rewrite the log to current state only (drops superseded events
        and purged ids) — the DESTRUCTIVE full rewrite (Iceberg
        rewrite_data_files + expire_snapshots in one step; prefer
        :meth:`checkpoint` + :meth:`expire_log` to keep snapshots).
        Returns surviving row count.  NOTE: discards history —
        ``current(as_of=...)`` and ``history()`` can only see events at
        or after the compaction."""
        st = self._state()
        if st is None:
            return 0
        live = st.where(F.col("_op") != "purge")
        tmp = f"{self.log_path}.compacting"
        live.write.mode("overwrite").parquet(tmp)
        n = self.spark.read.parquet(tmp).count()
        import shutil

        shutil.rmtree(self.log_path)
        os.rename(tmp, self.log_path)
        # checkpoints/floor describe the pre-compaction log — stale now
        shutil.rmtree(self.checkpoints_path, ignore_errors=True)
        return n

    # -- dedup-on-arrival integration ----------------------------------------

    def archive_less_mature_after_add(
        self,
        match_fields,
        ts_col: str,
        maturity_col: str,
        leniency_ms: int = 500,
    ) -> int:
        """The reference's add-then-``archive_less_mature`` flow
        (``index/abstract.py:902-916``): scan current live rows, cluster
        by the leniency rule, archive everything but each cluster's most
        mature row.  Returns #archived."""
        from .dupes import archive_less_mature

        live = self.current()
        flagged = archive_less_mature(
            live,
            match_fields,
            ts_col=ts_col,
            leniency_ms=leniency_ms,
            id_col=self.id_col,
            maturity_col=maturity_col,
        )
        ids = [r[self.id_col] for r in flagged.where(F.col("archived")).select(self.id_col).collect()]
        if not ids:
            return 0
        return self.archive(ids)


def add_named_documents(spark, store: "DatasetStore", docs_by_name, update_existing: bool = False) -> int:
    """Shared registry-append helper for the name-keyed catalogs
    (ProductCatalog / MetadataTypeCatalog): one implementation of the
    within-batch last-definition-wins dedupe + optional update-existing
    path (the ``datacube product update`` analog).  ``docs_by_name``:
    {name: serialized definition} — validation happens in the caller."""
    rows = sorted(docs_by_name.items())
    df = local_frame(spark, rows, f"{store.id_col} STRING, definition STRING")
    if not update_existing:
        return store.add(df, skip_existing=True)
    try:
        known = {
            r[store.id_col]
            for r in store.current(include_archived=True).select(store.id_col).collect()
        }
    except ValueError:
        known = set()
    n = store.add(df, skip_existing=True)
    if known:
        n += store.update(df.where(F.col(store.id_col).isin(list(known))))
    return n
