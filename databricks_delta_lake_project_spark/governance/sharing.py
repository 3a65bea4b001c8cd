"""Delta-Sharing-style cross-organization data sharing (S9 + X10).

Re-expresses the reference's sharing surface
(``src/delta_sharing/delta_sharing_provider.py:39-106`` — CREATE SHARE
/ ALTER SHARE ADD TABLE [AS alias] [PARTITION (...)] / CREATE
RECIPIENT / GRANT SELECT ON SHARE — and
``delta_sharing_recipient.py:121-205`` — profile-file reads of
``profile#share.schema.table``) on open-source Spark with no managed
service behind it.

Transport: the open Delta Sharing protocol is REST + presigned file
URLs; the engine keeps the same three-level namespace, profile-file
handshake, and server-side filtering semantics, but the "server" is a
filesystem share registry (JSON) the provider writes and the recipient
reads. That keeps every semantic a test can pin — grants, token auth,
aliasing, partition filtering, schema listing — while the wire
protocol stays swappable (a real REST endpoint would slot in behind
``SharingClient._registry`` without touching callers).

Enforcement model: authorization checks run in the recipient's client
against the registry the provider wrote — the same trust boundary as
the reference's workspace-level sharing (the provider's storage
credentials ARE the hard boundary; the registry records intent and
scoping). Shared tables resolve through ``LakeTable.for_path``, so
every Delta table — engine-written or external, including ones the
engine may not write — is shareable, read-only.

Scale notes: listing and auth are O(registry) driver-side JSON; data
reads are ordinary engine scans — partition filters land on the scan
as normal predicates (pushed to parquet), never post-collect.
"""

from __future__ import annotations

import json
import secrets
import time
from pathlib import Path
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..tables import LakeTable

_REGISTRY = "_shares.json"


def _load_registry(root: str) -> dict[str, Any]:
    p = Path(root) / _REGISTRY
    if not p.is_file():
        return {"shares": {}, "recipients": {}, "grants": []}
    return json.loads(p.read_text())


class ShareProvider:
    """Provider-side share administration rooted at a directory."""

    def __init__(self, root: str):
        self.root = str(Path(root))
        Path(self.root).mkdir(parents=True, exist_ok=True)

    # -- registry ----------------------------------------------------------

    def _save(self, reg: dict[str, Any]) -> None:
        (Path(self.root) / _REGISTRY).write_text(json.dumps(reg, indent=1))

    # -- shares ------------------------------------------------------------

    def create_share(self, name: str, comment: str = "") -> None:
        reg = _load_registry(self.root)
        reg["shares"].setdefault(
            name, {"comment": comment, "tables": {}, "created_ms": int(time.time() * 1000)}
        )
        self._save(reg)

    def add_table(
        self,
        share: str,
        table_path: str,
        alias: str,
        partition_filter: str | None = None,
        comment: str = "",
    ) -> None:
        """Expose ``table_path`` as ``schema.table`` inside ``share``.

        ``alias`` must be two-level (``schema.table`` — the share name
        supplies the first level of the three-level namespace).
        ``partition_filter`` is a SQL predicate applied server-side on
        every read, mirroring ``ALTER SHARE ... PARTITION (region =
        'US')``: recipients can never see rows outside it.
        """
        if alias.count(".") != 1:
            raise ValueError(f"alias must be schema.table, got: {alias!r}")
        reg = _load_registry(self.root)
        if share not in reg["shares"]:
            raise ValueError(f"no such share: {share}")
        reg["shares"][share]["tables"][alias] = {
            "path": str(Path(table_path)),
            "filter": partition_filter,
            "comment": comment,
        }
        self._save(reg)

    def remove_table(self, share: str, alias: str) -> None:
        reg = _load_registry(self.root)
        reg["shares"].get(share, {}).get("tables", {}).pop(alias, None)
        self._save(reg)

    def delete_share(self, name: str) -> None:
        """DROP SHARE: removes the share and every grant on it (the
        shared tables' data is untouched — a share is metadata)."""
        reg = _load_registry(self.root)
        if name not in reg["shares"]:
            raise ValueError(f"no such share: {name}")
        del reg["shares"][name]
        reg["grants"] = [g for g in reg["grants"] if g["share"] != name]
        self._save(reg)

    def delete_recipient(self, name: str) -> None:
        """DROP RECIPIENT: removes the recipient, its grants, and its
        credential profile file — the issued bearer token stops
        resolving immediately."""
        reg = _load_registry(self.root)
        if name not in reg["recipients"]:
            raise ValueError(f"no such recipient: {name}")
        del reg["recipients"][name]
        reg["grants"] = [
            g for g in reg["grants"] if g["recipient"] != name
        ]
        self._save(reg)
        profile = Path(self.root) / "recipients" / f"{name}.share"
        try:
            profile.unlink(missing_ok=True)
        except OSError:
            pass  # registry row is authoritative; a stale file is inert

    # -- recipients + grants ----------------------------------------------

    def create_recipient(self, name: str, profile_path: str, comment: str = "") -> str:
        """Register a recipient and write its credential profile file
        (the ``config.share`` activation-link artifact). Returns the
        bearer token."""
        token = secrets.token_hex(16)
        reg = _load_registry(self.root)
        reg["recipients"][name] = {"token": token, "comment": comment}
        self._save(reg)
        Path(profile_path).write_text(
            json.dumps(
                {
                    "shareCredentialsVersion": 1,
                    "endpoint": self.root,
                    "bearerToken": token,
                }
            )
        )
        return token

    def grant(self, share: str, recipient: str) -> None:
        reg = _load_registry(self.root)
        if share not in reg["shares"]:
            raise ValueError(f"no such share: {share}")
        if recipient not in reg["recipients"]:
            raise ValueError(f"no such recipient: {recipient}")
        pair = {"share": share, "recipient": recipient}
        if pair not in reg["grants"]:
            reg["grants"].append(pair)
        self._save(reg)

    def revoke(self, share: str, recipient: str) -> None:
        reg = _load_registry(self.root)
        reg["grants"] = [
            g
            for g in reg["grants"]
            if not (g["share"] == share and g["recipient"] == recipient)
        ]
        self._save(reg)

    def show_grants(self) -> list[dict[str, str]]:
        return list(_load_registry(self.root)["grants"])


class SharingClient:
    """Recipient-side client over a provider profile file
    (``delta_sharing_recipient.py:86-118`` SharingClient shape)."""

    def __init__(self, profile_path: str):
        prof = json.loads(Path(profile_path).read_text())
        self.endpoint = prof["endpoint"]
        self.token = prof["bearerToken"]

    def _authorized_shares(self) -> dict[str, Any]:
        reg = _load_registry(self.endpoint)
        me = [
            name
            for name, r in reg["recipients"].items()
            if r["token"] == self.token
        ]
        if not me:
            raise PermissionError("unknown or revoked bearer token")
        granted = {
            g["share"] for g in reg["grants"] if g["recipient"] in me
        }
        return {s: v for s, v in reg["shares"].items() if s in granted}

    def list_shares(self) -> list[str]:
        return sorted(self._authorized_shares())

    def list_schemas(self, share: str) -> list[str]:
        tables = self._authorized_shares().get(share, {}).get("tables", {})
        return sorted({a.split(".")[0] for a in tables})

    def list_tables(self, share: str, schema: str | None = None) -> list[str]:
        tables = self._authorized_shares().get(share, {}).get("tables", {})
        return sorted(
            a for a in tables if schema is None or a.split(".")[0] == schema
        )

    def _resolve(self, url: str) -> dict[str, Any]:
        """Authorize + resolve a ``profile#share.schema.table`` URL (or
        the bare ``share.schema.table`` part after ``#``) to its share
        registry entry. Raises PermissionError on an unknown/revoked
        token or an ungranted share — auth runs BEFORE any path is
        revealed to the caller."""
        ref = url.split("#", 1)[-1]
        share, _, alias = ref.partition(".")
        shares = self._authorized_shares()
        if share not in shares:
            raise PermissionError(f"not granted on share: {share}")
        entry = shares[share]["tables"].get(alias)
        if entry is None:
            raise ValueError(f"no table {alias!r} in share {share!r}")
        return entry

    def load_table(self, spark: SparkSession, url: str) -> DataFrame:
        """Read ``share.schema.table`` (the part after ``#`` in the
        reference's ``profile#share.schema.table`` URL; a full URL with
        ``#`` is accepted too). Applies the provider's partition filter
        before anything else, so it is pushed into the scan."""
        entry = self._resolve(url)
        t = LakeTable.for_path(spark, entry["path"])
        df = t.to_df()
        if entry["filter"]:
            df = df.filter(entry["filter"])
        return df

    def load_cdf(
        self, spark: SparkSession, url: str, starting_version: int = 0
    ) -> DataFrame:
        """Change-data-feed read of a shared table
        (``delta_sharing_recipient.py:180-205``). Every version is
        served from its own commit (``LakeTable.read_changes``): its
        ``cdc`` files when the writer had CDF on, else its add files
        as insert rows — so append-only external Delta tables read
        too; a rewrite commit without cdc actions (row-level deltas
        unrecoverable) or a vacuumed starting version is refused."""
        entry = self._resolve(url)
        t = LakeTable.for_path(spark, entry["path"])
        df = t.read_changes(starting_version=starting_version)
        if entry["filter"]:
            df = df.filter(entry["filter"])
        return df

    def load_stream(
        self,
        spark: SparkSession,
        url: str,
        starting_version: int = 0,
        change_feed: bool = True,
        ignore_changes: bool = False,
    ) -> DataFrame:
        """Streaming read of a shared table — the reference's
        ``spark.readStream.format("deltaSharing")
        .option("readChangeFeed", "true")`` recipient flow
        (``delta_sharing_recipient.py:144-171,178-191``).

        Resolves the share + token + server-side partition filter, then
        returns the engine's native ``delta_cdf_stream`` source over
        the shared table: commit VERSIONS are the stream offsets, so
        the recipient's own checkpoint gives exactly-once incremental
        sync across restarts with no provider-side cursor state.

        ``change_feed=True`` yields the full CDF schema (table columns
        + ``_change_type`` + ``_commit_version``); ``False`` yields the
        plain append-stream shape — and, matching Delta's append-only
        stream contract, RAISES mid-stream when a change commit
        (update/delete rows) is encountered unless
        ``ignore_changes=True``, which drops the non-insert rows
        (Delta's ``ignoreChanges`` opt-in) instead of silently losing
        them.

        Scale: each micro-batch plans only the files of its version
        range (Arrow-batched reads, partition filter applied before
        anything else); a 100 TB shared table streams at O(new commits)
        per trigger, never O(table).
        """
        entry = self._resolve(url)
        if not (Path(entry["path"]) / "_delta_log").is_dir():
            raise ValueError(
                "streaming a share requires a Delta table (a "
                "_delta_log under the shared path); batch "
                "load_table/load_cdf work on any format"
            )
        from ..sources.cdf_stream import register_cdf_stream

        register_cdf_stream(spark)
        df = (
            spark.readStream.format("delta_cdf_stream")
            .option("path", entry["path"])
            .option("startingVersion", starting_version)
            .load()
        )
        if entry["filter"]:
            df = df.filter(entry["filter"])
        if not change_feed:
            if not ignore_changes:
                # assert_true inside a FILTER (not a pruned-away
                # projection): evaluates per row, returns NULL (-> rows
                # kept) when every row is an insert, raises on the
                # first update/delete row — Delta's append-only stream
                # contract
                df = df.filter(
                    F.assert_true(
                        F.col("_change_type") == "insert",
                        F.lit(
                            "shared-table stream hit a change commit "
                            "(update/delete rows); pass "
                            "ignore_changes=True to drop them or "
                            "change_feed=True to consume them as CDF"
                        ),
                    ).isNull()
                )
            df = df.filter(F.col("_change_type") == "insert").drop(
                "_change_type", "_commit_version"
            )
        return df
