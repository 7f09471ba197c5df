"""The frontier: Crawlee's RequestQueue as a partitioned Spark table.

Reference semantics re-expressed set-wise:

- ``InternalRequest`` rows + orderNo state machine
  (packages/memory-storage/src/resource-clients/request-queue.ts:43-51,
  661-667): ``orderNo`` sign/magnitude punning (±epochMillis = FIFO/forefront,
  |orderNo|>now = locked, null = handled) becomes explicit columns:
  a deterministic signed ``order_no`` sequence (no wall clock), plus
  ``lease_until`` and ``handled_at`` timestamps.
- add-dedup (``addRequest``/``batchAddRequests``,
  request-queue.ts:384-396, 449-461): "existing id ⇒ wasAlreadyPresent, row
  NOT updated" becomes an exact **left-anti join** on ``request_id`` — new
  links minus seen set. The join is the only seen-set check: a Bloom
  prefilter (``dedup_filters.py``) would still have to shuffle the whole
  frontier read for its maybe-seen candidates, so it only adds work here
  (BENCH.md, "Bloom prefilter in front of the frontier").
- queue metadata counters (request-queue.ts:596-610) are an aggregation view,
  not stored state.

Storage: parquet base snapshots and delta directories + a JSON manifest
(atomic rename) — the sandbox stand-in for an Iceberg table where each round
is a MERGE INTO commit and resume reads the last committed state. The
snapshot layout keeps the same two properties the engine needs from Iceberg:
transactional read-your-writes between rounds, and time-travel for resume.
The manifest swap is the ONLY commit point, side tables included (``stage``
/ ``table``).

Scale notes (10^10-row frontier):
- every write — an enqueue batch or a round — is a merge-on-read delta of the
  rows it touched; compaction (every ``compact_every`` deltas) is the only
  writer of a base snapshot.
- compaction writes the base ``repartition(N, request_id)``, but Spark keeps
  no bucket metadata for a plain parquet write: once the seen-set id side
  outgrows the broadcast threshold, the anti-join shuffles both sides.
- ``html`` never enters the frontier — scheduling reads only narrow columns
  (Catalyst prunes the parquet scan to the scheduling columns).
"""

from __future__ import annotations

import json
import os
import re
import shutil
import uuid
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from crawlee_spark.functions.keying import (
    host_col,
    keying_udf,
    registrable_domain_col,
    request_id_col,
    unique_key_col,
)
from crawlee_spark.operators.sizing import fits_broadcast

FRONTIER_SCHEMA = T.StructType(
    [
        T.StructField("request_id", T.StringType(), False),
        T.StructField("url", T.StringType(), False),
        T.StructField("unique_key", T.StringType(), False),
        T.StructField("host", T.StringType(), True),
        T.StructField("registrable_domain", T.StringType(), True),
        T.StructField("order_no", T.LongType(), False),
        T.StructField("forefront", T.BooleanType(), False),
        T.StructField("crawl_depth", T.IntegerType(), False),
        T.StructField("retry_count", T.IntegerType(), False),
        T.StructField("max_retries", T.IntegerType(), True),
        T.StructField("no_retry", T.BooleanType(), False),
        T.StructField("session_rotation_count", T.IntegerType(), False),
        T.StructField("state", T.IntegerType(), False),  # RequestState enum 0-7
        T.StructField("lease_until", T.LongType(), True),  # round-number lease
        T.StructField("handled_at", T.TimestampType(), True),
        T.StructField("failed", T.BooleanType(), False),
        T.StructField("error_messages", T.ArrayType(T.StringType()), True),
        T.StructField("label", T.StringType(), True),
        T.StructField("user_data", T.StringType(), True),
        T.StructField("enqueue_strategy", T.StringType(), True),
        T.StructField("method", T.StringType(), False),
        T.StructField("payload", T.StringType(), True),
        T.StructField("round_id", T.IntegerType(), False),  # lineage: last touch
    ]
)

# RequestState enum (packages/core/src/request.ts:42-51)
STATE_UNPROCESSED = 0
STATE_BEFORE_NAV = 1
STATE_AFTER_NAV = 2
STATE_REQUEST_HANDLER = 3
STATE_DONE = 4
STATE_ERROR_HANDLER = 5
STATE_ERROR = 6
STATE_SKIPPED = 7


# The engine's link pin hands its PSL lookup to the request shaping under
# this private name (as ``_arrival`` carries arrival order): the shaping reads
# it instead of running the lookup again. A caller's own ``host`` or
# ``registrable_domain`` column is never trusted; both derive from ``url``.
PINNED_DOMAIN_COL = "_registrable_domain"
URL_KEY_COLS = ("unique_key", PINNED_DOMAIN_COL)

# a table version's directory name (no ``=``: Spark infers no partition column)
_VERSION_RE = re.compile(r"^r\d+-[0-9a-f]{32}$")


def with_url_keys(df: DataFrame) -> DataFrame:
    """Add the ``URL_KEY_COLS`` of ``df``'s url: the normalized
    ``unique_key`` (kept when ``df`` already carries one, as
    ``candidates_to_requests`` does) and the pinned registrable domain —
    the two Python lookups of shaping a request, evaluated in the pass that
    pins them."""
    out = df
    if "unique_key" not in df.columns:
        out = out.withColumn("unique_key", unique_key_col("url"))
    return out.withColumn(PINNED_DOMAIN_COL, registrable_domain_col(host_col("url")))


def candidates_to_requests(df: DataFrame, *, forefront: bool = False) -> DataFrame:
    """Project a candidate frame with a ``url`` column into frontier shape
    (without order_no — assigned at commit time by the store).

    Invalid URLs (unnormalizable, reference F9 shared.ts:242-276) are dropped
    by the caller via ``unique_key IS NULL`` if desired; here we keep the
    reference fallback uniqueKey = raw url when normalization fails
    (request.ts:426 ``normalizeUrl(url) || url``). ``registrable_domain`` is
    read from ``PINNED_DOMAIN_COL`` when the frame carries it (the engine's
    link pin), else looked up from the host.
    """
    cols = df.columns
    out = df
    if "unique_key" not in cols:
        out = out.withColumn("unique_key", unique_key_col("url"))
    if "request_id" not in cols:
        out = out.withColumn("request_id", request_id_col("unique_key"))
    out = (
        out.withColumn("host", host_col("url"))
        # reference the computed host column (CollapseProject keeps the
        # single evaluation — host_col is a try_parse_url, ~1µs/row; the
        # old inline form parsed every URL twice)
        .withColumn(
            "registrable_domain",
            F.col(PINNED_DOMAIN_COL)
            if PINNED_DOMAIN_COL in cols
            else registrable_domain_col(F.col("host")),
        )
        .withColumn("forefront", F.lit(forefront) if "forefront" not in cols else F.col("forefront"))
        .withColumn("crawl_depth", F.col("crawl_depth").cast("int") if "crawl_depth" in cols else F.lit(0))
        .withColumn("retry_count", F.lit(0))
        .withColumn("max_retries", F.col("max_retries").cast("int") if "max_retries" in cols else F.lit(None).cast("int"))
        .withColumn("no_retry", F.col("no_retry").cast("boolean") if "no_retry" in cols else F.lit(False))
        .withColumn("session_rotation_count", F.lit(0))
        .withColumn("state", F.lit(STATE_UNPROCESSED))
        .withColumn("lease_until", F.lit(None).cast("long"))
        .withColumn("handled_at", F.lit(None).cast("timestamp"))
        .withColumn("failed", F.lit(False))
        .withColumn("error_messages", F.lit(None).cast("array<string>"))
        .withColumn("label", F.col("label") if "label" in cols else F.lit(None).cast("string"))
        .withColumn("user_data", F.col("user_data") if "user_data" in cols else F.lit(None).cast("string"))
        .withColumn(
            "enqueue_strategy",
            F.col("enqueue_strategy") if "enqueue_strategy" in cols else F.lit(None).cast("string"),
        )
        .withColumn(
            "method",
            F.upper(F.coalesce(F.col("method"), F.lit("GET"))) if "method" in cols else F.lit("GET"),
        )
        .withColumn("payload", F.col("payload") if "payload" in cols else F.lit(None).cast("string"))
    )
    return out


@dataclass
class FrontierStore:
    """Merge-on-read (MOR) frontier table: a base snapshot, delta files and a
    JSON manifest.

    Every write commits only the rows it touched (``commit_delta``:
    O(claimed+fresh) for a round, O(batch) for ``add_requests``) and reads
    resolve last-writer-wins; at every ``compact_every``-th delta the
    compaction ``commit`` rewrites the base — the only snapshot writer. At
    the design point (10^10-row frontier) a full rewrite per round is ~2 TB
    of writes for a few hundred MB of change. MOR reads anti-join the base
    against the outstanding delta ids, broadcast when
    ``sizing.fits_broadcast`` admits the manifest's delta row and id-byte
    counts.

    The manifest holds current state only: the driver-side scalars that
    make runs deterministic and resumable (the monotonic ``order_seq``,
    which replaces Date.now() orderNo, the round counter and the queue
    counters), the outstanding deltas, the base's per-file ``lineage``, and
    the ``tables`` map of the committed versions of the caller's side
    tables.
    """

    spark: SparkSession
    root: str
    num_partitions: int = 32
    compact_every: int = 8  # deltas per base rewrite
    _manifest: dict = field(default_factory=dict, repr=False)
    # the new rows the last ``prepare_fresh`` budget cut, as ``url`` rows
    over_budget: DataFrame | None = field(default=None, init=False, repr=False)
    # (name, version dir relative to root, replace) written but not yet published
    _staged: list = field(default_factory=list, init=False, repr=False)

    MANIFEST = "manifest.json"

    def __post_init__(self):
        os.makedirs(self.root, exist_ok=True)
        path = os.path.join(self.root, self.MANIFEST)
        if os.path.exists(path):
            with open(path) as f:
                self._manifest = json.load(f)
            self._manifest.setdefault("deltas", [])
            self._manifest.setdefault("delta_rows", {})
            self._manifest.setdefault("delta_id_bytes", {})
            self._manifest.setdefault("handled_total", 0)
            self._manifest.setdefault("failed_total", 0)
        else:
            self._manifest = {
                "snapshot": -1,
                "round": 0,
                "order_seq": 0,
                "handled_total": 0,
                "failed_total": 0,
                "total_requests": 0,
                "lineage": [],  # per-file rows/handled/failed of the base
                "deltas": [],  # MOR delta seqs since the last base snapshot
                "delta_rows": {},  # seq (str) -> row count, for broadcast sizing
                "delta_id_bytes": {},  # seq (str) -> request_id byte mass
            }

    # -- manifest helpers ---------------------------------------------------
    @property
    def round(self) -> int:
        return self._manifest["round"]

    @property
    def order_seq(self) -> int:
        return self._manifest["order_seq"]

    def _snapshot_dir(self, snap: int) -> str:
        return os.path.join(self.root, "snapshots", f"v{snap:06d}")

    def _write_manifest(self):
        """Publish every staged table version and swap the manifest — the
        commit point of everything written since the last swap."""
        tables = self._manifest.setdefault("tables", {})
        for name, version, replace in self._staged:
            tables[name] = [version] if replace else [*tables.get(name, []), version]
        self._staged = []
        path = os.path.join(self.root, self.MANIFEST)
        tmp = path + ".tmp"
        with open(tmp, "w") as f:
            json.dump(self._manifest, f, indent=1)
        os.replace(tmp, path)  # atomic commit point

    def _delta_dir(self, seq: int) -> str:
        return os.path.join(self.root, "deltas", f"d{seq:06d}")

    def _outstanding_delta_stats(self) -> tuple[int, int]:
        """(total rows, total request_id bytes) across the outstanding
        deltas, for broadcast sizing.

        Manifests written before ``delta_rows``/``delta_id_bytes`` existed
        can list outstanding deltas with no stats entry; summing those to 0
        would silently disarm the broadcast guard (always broadcasting,
        however large the delta). Backfill a missing entry with a one-time
        scan of that delta file — cached in the manifest dict and persisted
        at the next manifest write."""
        dr = self._manifest["delta_rows"]
        db = self._manifest["delta_id_bytes"]
        deltas = self._manifest["deltas"]
        for seq in deltas:
            if str(seq) not in dr or str(seq) not in db:
                row = (
                    self.spark.read.parquet(self._delta_dir(seq))
                    .agg(
                        F.count("*").alias("n"),
                        F.sum(F.octet_length("request_id")).alias("b"),
                    )
                    .collect()[0]
                )
                dr[str(seq)] = row["n"]
                db[str(seq)] = int(row["b"] or 0)
        return (
            sum(dr[str(seq)] for seq in deltas),
            sum(db[str(seq)] for seq in deltas),
        )

    def _deltas_broadcastable(self) -> bool:
        return fits_broadcast(*self._outstanding_delta_stats())

    # -- side tables ----------------------------------------------------------
    def stage(self, name: str, df: DataFrame, *, replace: bool = False) -> None:
        """Write ``df`` as a new version of table ``name``; the next manifest
        write publishes it (``replace=True``: as the table's only version).
        Until then no reader sees it, so a crash before the commit leaves
        the table as it was."""
        version = os.path.join(name, f"r{self.round}-{uuid.uuid4().hex}")
        df.write.parquet(os.path.join(self.root, version))
        self._staged.append((name, version, replace))

    def table(self, name: str, empty) -> DataFrame:
        """The union of table ``name``'s committed versions; before its
        first commit, ``empty`` (a frame, or the schema of an empty one)."""
        versions = self._manifest.get("tables", {}).get(name, [])
        if versions:
            return self.spark.read.parquet(*[os.path.join(self.root, v) for v in versions])
        return empty if isinstance(empty, DataFrame) else self.spark.createDataFrame([], empty)

    def _drop_unpublished_versions(self) -> None:
        """Delete every table version directory the manifest does not list
        (run right after a manifest write, so nothing is staged): a crashed
        round's writes and superseded state versions."""
        live = {v for vs in self._manifest["tables"].values() for v in vs}
        for name in os.listdir(self.root):
            d = os.path.join(self.root, name)
            for v in os.listdir(d) if os.path.isdir(d) else ():
                if _VERSION_RE.match(v) and os.path.join(name, v) not in live:
                    shutil.rmtree(os.path.join(d, v), ignore_errors=True)

    # -- table I/O -----------------------------------------------------------
    def read(self, columns: list[str] | None = None) -> DataFrame:
        """Current frontier (empty frame before the first commit).

        With merge-on-read the merge NEVER shuffles the base: last-writer-wins
        is resolved among the deltas alone (they are O(claimed+fresh) rows —
        a small ``max_by`` by delta sequence), and the base is merged as

            base LEFT ANTI JOIN broadcast(delta_ids)  ∪  resolved_deltas

        — a map-only scan of the base. The previous shape
        (``groupBy(request_id).max_by(struct(*))`` over base ∪ deltas)
        shuffled the ENTIRE wide frontier on every read: ~2 TB per round at a
        10^10-row frontier just to read the claim set. If the outstanding
        delta ids fail ``sizing.fits_broadcast`` (pathological — compaction
        bounds deltas) the anti-join falls back to a shuffle, still correct.

        ``columns`` prunes the merge so monitoring reads (counters,
        is_finished) keep parquet column pruning."""
        snap = self._manifest["snapshot"]
        deltas = self._manifest["deltas"]
        want = None
        if columns is not None:
            want = ["request_id"] + [c for c in columns if c != "request_id"]
        if snap < 0 and not deltas:
            empty = self.spark.createDataFrame([], FRONTIER_SCHEMA)
            return empty.select(*want) if want else empty
        base = None
        if snap >= 0:
            base = self.spark.read.schema(FRONTIER_SCHEMA).parquet(self._snapshot_dir(snap))
            if want:
                base = base.select(*want)
        merged = None
        for seq in deltas:
            p = self.spark.read.schema(FRONTIER_SCHEMA).parquet(self._delta_dir(seq))
            p = (p.select(*want) if want else p).withColumn("_cseq", F.lit(seq).cast("long"))
            merged = p if merged is None else merged.unionByName(p)
        if merged is not None:
            if len(deltas) > 1:
                # ids can repeat ACROSS deltas (claim delta then outcome
                # delta); within one delta they are unique, so a single
                # outstanding delta needs no resolution at all
                payload = [c for c in merged.columns if c != "request_id"]
                merged = (
                    merged.groupBy("request_id")
                    .agg(F.max_by(F.struct(*payload), F.col("_cseq")).alias("_row"))
                    .select("request_id", "_row.*")
                )
            merged = merged.drop("_cseq")
        if merged is None:
            return base
        if base is None:
            return merged
        ids = merged.select("request_id")
        if self._deltas_broadcastable():
            ids = F.broadcast(ids)
        return base.join(ids, "request_id", "left_anti").unionByName(merged)

    def commit(self, df: DataFrame) -> int:
        """Compaction: write ``df`` (the whole frontier) as the new base
        snapshot, supersede the outstanding deltas and atomically advance the
        manifest. ``commit_delta`` calls it with ``read()``.

        The base is written ``repartition(N, request_id)`` so its files are
        evenly sized; this is NOT an Iceberg ``bucket(N, request_id)`` spec —
        Spark records no bucketing for the write, so a join on
        ``request_id`` still shuffles the base once broadcast is ruled out."""
        snap = self._manifest["snapshot"] + 1
        out_dir = self._snapshot_dir(snap)
        (
            df.repartition(self.num_partitions, "request_id")
            .write.mode("overwrite")
            .parquet(out_dir)
        )
        self._manifest["snapshot"] = snap
        # per-file lineage of the base: rows + handled/failed counts per
        # written file (the Iceberg analog reads this from data-file stats);
        # each compaction replaces it
        lineage = [
            {
                "file": os.path.basename(r["file"]),
                "rows": r["rows"],
                "handled": int(r["handled"] or 0),
                "failed": int(r["failed"] or 0),
            }
            for r in self.spark.read.parquet(out_dir)
            .groupBy(F.input_file_name().alias("file"))
            .agg(
                F.count("*").alias("rows"),
                F.sum(F.when(F.col("handled_at").isNotNull(), 1).otherwise(0)).alias("handled"),
                F.sum(F.when(F.col("failed"), 1).otherwise(0)).alias("failed"),
            )
            .collect()
        ]
        # a full snapshot is the whole table: resync the O(1) monitoring
        # counters from its lineage (heals any drift from out-of-band deltas)
        self._manifest["total_requests"] = sum(p["rows"] for p in lineage)
        self._manifest["handled_total"] = sum(p["handled"] for p in lineage)
        self._manifest["failed_total"] = sum(p["failed"] for p in lineage)
        self._manifest["lineage"] = sorted(lineage, key=lambda x: x["file"])
        # a full snapshot supersedes any outstanding deltas; their files go
        # only after the manifest no longer lists them
        superseded = self._manifest["deltas"]
        self._manifest["deltas"] = []
        self._manifest["delta_rows"] = {}
        self._manifest["delta_id_bytes"] = {}
        self._write_manifest()
        for seq in superseded:
            shutil.rmtree(self._delta_dir(seq), ignore_errors=True)
        # retire old snapshots beyond a small retention window
        keep_from = snap - 3
        old = self._snapshot_dir(keep_from - 1)
        if keep_from > 0 and os.path.exists(old):
            shutil.rmtree(old, ignore_errors=True)
        self._drop_unpublished_versions()
        return snap

    def commit_delta(
        self, changed: DataFrame, *, round_increment: bool = False, extra: dict | None = None
    ) -> int:
        """Merge-on-read commit — the frontier's only commit path: write ONLY
        the rows a write touched (a round's claimed-row state transitions +
        freshly enqueued rows, or an ``add_requests`` batch).

        Per-round write cost becomes O(claimed + fresh) instead of
        O(frontier) — the difference between a 2 TB rewrite per round and a
        few hundred MB at a 10^10-row frontier. ``read()`` resolves the
        latest version per request_id; at every ``compact_every``-th delta
        the base is rewritten (``commit``; Iceberg: data-file compaction).
        ``round_increment`` advances the round counter and ``extra`` updates
        manifest fields, both in the same manifest swap."""
        deltas = self._manifest["deltas"]
        seq = (deltas[-1] + 1) if deltas else 0
        out_dir = self._delta_dir(seq)
        changed = changed.select(*[f.name for f in FRONTIER_SCHEMA.fields])
        # the delta's row count and id byte mass (for the broadcast guard)
        # are observed on the write itself — no read-back job
        obs = Observation()
        changed.repartition(max(4, self.num_partitions // 4), "request_id").observe(
            obs, F.count("*").alias("n"), F.sum(F.octet_length("request_id")).alias("b")
        ).write.mode("overwrite").parquet(out_dir)
        deltas.append(seq)
        if round_increment:
            self._manifest["round"] += 1
        if extra:
            self._manifest.update(extra)
        stats = obs.get
        self._manifest["delta_rows"][str(seq)] = stats["n"]
        self._manifest["delta_id_bytes"][str(seq)] = int(stats["b"] or 0)
        if len(deltas) >= self.compact_every:
            # compaction: one full rewrite absorbs the deltas (commit clears them)
            return self.commit(self.read())
        self._write_manifest()
        return self._manifest["snapshot"]

    # -- enqueue (addRequestsBatched semantics) -------------------------------
    def prepare_fresh(
        self,
        candidates: DataFrame,
        *,
        forefront: bool = False,
        max_new: int | None = None,
    ) -> DataFrame:
        """Dedup + order candidate requests; returns ONLY the fresh rows
        (pinned via localCheckpoint), advancing the order sequence. The caller
        commits them in its next delta (the engine's outcome delta, or
        ``add_requests``).

        Semantics of request_provider.ts:291-404 / request-queue.ts:428-497 as
        one set operation:

        1. in-batch dedup: first occurrence per request_id wins (batch rows
           arrive ordered; reference processes them sequentially). Arrival
           order = an explicit ``_arrival`` column if present, else input
           row order;
        2. seen-set dedup: left-anti join against the frontier on request_id
           (``wasAlreadyPresent`` rows vanish — they are *not* updated);
        3. budget (``maxNewRequests``, F6): only NEW rows consume budget
           (basic_crawler.test.ts:2035-2130), applied as a limit on the
           deduped set in arrival order; the new rows past it, as ``url``
           rows, become ``over_budget`` (None without a budget);
        4. order assignment (O1): ``order_no = ±(order_seq + rank)`` —
           deterministic sequence, forefront negative ⇒ ascending sort gives
           forefront-LIFO-then-FIFO (request-queue.ts:661-667, 224).
        """
        frontier = self.read()

        # key the candidates (UDF normalize + sha-256 id) but DON'T derive the
        # full frontier row yet: the dedup shuffle should carry only the
        # candidate's own columns, not the derivable ones (host, domain,
        # state machine defaults) — those are recomputed map-side on the
        # survivors after the anti-join, which is strictly fewer rows (the
        # domain is read from ``PINNED_DOMAIN_COL`` when the engine pinned it).
        keyed = candidates
        if "request_id" not in keyed.columns:
            if "unique_key" not in keyed.columns:
                # fused Arrow kernel: normalize + sha-256 id in one Python pass
                keyed = keyed.withColumn("_k", keying_udf("url")).select(
                    "*", F.col("_k.unique_key").alias("unique_key"),
                    F.col("_k.request_id").alias("request_id"),
                ).drop("_k")
            else:
                keyed = keyed.withColumn("request_id", request_id_col("unique_key"))
        if "_arrival" not in keyed.columns:
            keyed = keyed.withColumn("_arrival", F.monotonically_increasing_id())
        # (1) in-batch first-wins dedup: groupBy + min_by — identical
        # semantics to a per-key window (earliest arrival wins) but with
        # map-side partial aggregation, so duplicate-heavy batches (the
        # common crawl case: every page links to the same nav URLs) shrink
        # before the shuffle
        payload = [c for c in keyed.columns if c != "request_id"]
        deduped = (
            keyed.groupBy("request_id")
            .agg(F.min_by(F.struct(*payload), F.col("_arrival")).alias("_row"))
            .select("request_id", "_row.*")
        )
        # (2) seen-set dedup: exact left-anti join against the frontier (the
        # base ⋉ delta ids ∪ deltas read; Catalyst broadcasts the id side
        # while it fits its threshold, else shuffles both sides)
        fresh = deduped.join(frontier.select("request_id"), "request_id", "left_anti")
        # pin the narrow new rows ONCE (monotonically_increasing_id is
        # partition-dependent, so the stats pass, the budget cut and the
        # returned frame must see identical values); the wide frontier row is
        # derived lazily on top — a deterministic map-only projection that
        # downstream actions (union → snapshot write) evaluate exactly once more
        fresh = fresh.localCheckpoint(eager=True)
        # (3) budget on NEW rows only, in arrival order — TakeOrdered (top-k
        # per partition then merge on the driver), no global window. Arrival
        # keys are unique, so the kept rows are exactly those up to the
        # kept ``hi``: the cut is a filter over the pin, not a second join
        kept = fresh if max_new is None else fresh.orderBy("_arrival").limit(max_new)
        stats = kept.agg(
            F.count("*").alias("n"), F.min("_arrival").alias("lo"), F.max("_arrival").alias("hi")
        ).collect()[0]
        added = int(stats["n"] or 0)
        self.over_budget = None
        if max_new is not None:
            past = F.col("_arrival") > F.lit(stats["hi"]) if added else F.lit(True)
            self.over_budget = fresh.filter(past).select("url")
            fresh = fresh.filter(~past)
        # (4) deterministic order_no: SPARSE sequence ``base + (_arrival -
        # min_arrival) + 1``. Arrival keys are unique, so order_no is unique
        # and ascending-in-arrival — the FIFO/forefront contract only needs a
        # total order consistent with arrival, not dense ranks, and this
        # assigns it with one small aggregate instead of a one-task global
        # row_number (the difference between O(batch) on one core and a
        # map-only pass at a 10^10-row frontier).
        base_seq = self.order_seq
        lo = int(stats["lo"]) if stats["lo"] is not None else 0
        span = (int(stats["hi"]) - lo + 1) if added else 0

        shaped = candidates_to_requests(fresh, forefront=forefront)
        seq = F.lit(base_seq) + (F.col("_arrival") - F.lit(lo)) + 1
        shaped = (
            shaped.withColumn(
                "order_no",
                F.when(F.col("forefront"), -seq).otherwise(seq).cast("long"),
            )
            .drop("_arrival")
            .withColumn("round_id", F.lit(self.round))
            .select(*[f.name for f in FRONTIER_SCHEMA.fields])
        )

        self._manifest["order_seq"] = base_seq + span
        self._manifest["total_requests"] = self._manifest["total_requests"] + added
        return shaped

    def add_requests(
        self,
        candidates: DataFrame,
        *,
        forefront: bool = False,
        max_new: int | None = None,
    ) -> None:
        """Public enqueue (the direct-queue contract of
        request_provider.ts:206-275): dedup + order, then commit the fresh
        rows as one delta."""
        self.commit_delta(self.prepare_fresh(candidates, forefront=forefront, max_new=max_new))

    # -- queue metadata (aggregate view, request-queue.ts:596-610) ------------
    def info(self, *, exact: bool = False) -> dict:
        """O(1) queue counters from the manifest — no frontier scan.

        ``total_requests`` is maintained by ``prepare_fresh`` (every enqueue
        path), ``handled_total``/``failed_total`` by the engine's per-round
        commit extras, and all three are resynced from data-file lineage at
        every full-snapshot commit (compaction). At a 10^10-row frontier the
        old aggregate-the-table version was an O(frontier) job per
        monitoring call. ``exact=True`` recounts from data (tests/debug)."""
        if exact:
            row = (
                self.read(columns=["handled_at"])
                .agg(
                    F.count("*").alias("total"),
                    F.sum(F.when(F.col("handled_at").isNotNull(), 1).otherwise(0)).alias("handled"),
                )
                .collect()[0]
            )
            total, handled = int(row["total"] or 0), int(row["handled"] or 0)
        else:
            total = self._manifest["total_requests"]
            handled = self._manifest["handled_total"]
        return {
            "totalRequestCount": total,
            "handledRequestCount": handled,
            "pendingRequestCount": total - handled,
        }

    def is_finished(self) -> bool:
        """O10: no pending rows remain — O(1) from the manifest counters
        (leases count as in-progress only within the round that holds them —
        between rounds a lease from a crashed round has expired by
        round-number comparison)."""
        info = self.info()
        return info["pendingRequestCount"] == 0
