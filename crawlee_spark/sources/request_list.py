"""RequestList with persistent drain state — the S2 storage surface.

Reference semantics (packages/core/src/storages/request_list.ts):

- A RequestList is an IMMUTABLE ordered list of requests; the crawler pulls
  from the front and periodically persists ``REQUEST_LIST_STATE``
  {nextIndex, nextUniqueKey, inProgress} (request_list.ts:520-538) so a
  killed run resumes mid-list instead of restarting.
- ``_restoreState`` (request_list.ts:552-614) validates the blob: nextIndex
  must be a non-negative number within the list, and the uniqueKey at
  nextIndex must match nextUniqueKey — a changed list order is an error.
  In-progress requests are all re-crawled after restore.

Set-oriented shape: the list is an ordered DataFrame and "pulling from the
front" is draining ordered BATCHES into the frontier (seeds bulk-union,
SURVEY §2.3 O11). The state blob persists after each drained batch; the
reference's inProgress/reclaimed bookkeeping maps onto the frontier's
round-number leases (a crash mid-round expires the leases and re-claims —
exactly the "all in-progress requests need to be re-crawled" restore rule),
so the blob here carries {nextIndex, nextUniqueKey} only.

Scale: ranking the list is the two-phase ``global_row_number`` (no
unpartitioned window); each batch is a rank-range filter over the ranked
frame pinned by one localCheckpoint — per-batch cost is a narrow scan, and
the frontier's own dedup/anti-join machinery absorbs duplicates.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from crawlee_spark.operators.kvstore import KeyValueStore

STATE_KEY = "REQUEST_LIST_STATE"  # request_list.ts:60 SDK key


@dataclass
class RequestList:
    """Resumable ordered seed list backed by a KeyValueStore state blob."""

    kv: KeyValueStore
    name: str = "default"

    @property
    def _key(self) -> str:
        return f"{self.name}-{STATE_KEY}" if self.name != "default" else STATE_KEY

    def state(self) -> dict:
        return self.kv.get_value(self._key) or {"nextIndex": 0, "nextUniqueKey": None}

    def is_finished(self) -> bool:
        return bool((self.kv.get_value(self._key) or {}).get("finished"))

    def _ranked(self, requests: DataFrame, order_col: str | None) -> DataFrame:
        from crawlee_spark.functions.keying import unique_key_col
        from crawlee_spark.operators.scheduler import global_row_number

        df = requests
        if "unique_key" not in df.columns:
            df = df.withColumn("unique_key", unique_key_col("url"))
        oc = order_col or "url"
        ranks = global_row_number(df.select(oc).distinct(), oc, col_name="_rl_rank")
        # 0-based list position; order column must be unique (list order is
        # the contract — ties would make resume validation meaningless).
        # The rank map is LIST-sized (one row per request), so no broadcast
        # hint: a 20 M-url list would be a multi-GB build. AQE picks
        # broadcast on its own when the list is genuinely small.
        return df.join(ranks, oc).withColumn("_rl_rank", F.col("_rl_rank") - 1)

    def drain(
        self,
        requests: DataFrame,
        add_batch,
        *,
        batch_size: int = 1000,
        order_col: str | None = None,
        max_batches: int | None = None,
    ) -> int:
        """Feed ``requests`` (ordered by ``order_col``, default url) into the
        crawl in resumable batches: ``add_batch(batch_df)`` is the sink
        (``engine.add_seeds`` / ``store.add_requests``), and the state blob
        commits after each batch exactly like persistState after
        fetchNextRequest (request_list.ts:520-538). Returns how many batches
        this call drained; ``max_batches`` lets a test kill mid-list.

        Resume validation mirrors _restoreState (request_list.ts:556-570):
        a negative/overflowing nextIndex or a uniqueKey mismatch at
        nextIndex raises — the list order must not have changed."""
        state = self.state()
        next_index = state.get("nextIndex", 0)
        if not isinstance(next_index, int) or next_index < 0:
            raise ValueError(
                "The state object is invalid: nextIndex must be a non-negative number."
            )
        ranked = self._ranked(requests, order_col).localCheckpoint(eager=True)
        total = ranked.count()
        # Fail fast on a non-unique order column: ranks are assigned over
        # DISTINCT order values, so duplicates would share a rank — batch
        # boundaries overlap and the nextUniqueKey resume check reads an
        # arbitrary row among the duplicates. The docstring contract is now
        # enforced, not assumed.
        n_ranks = ranked.agg(F.countDistinct("_rl_rank").alias("n")).collect()[0]["n"]
        if n_ranks != total:
            raise ValueError(
                f"RequestList order column must be unique: {total} rows but only "
                f"{n_ranks} distinct order values (duplicate order keys make "
                "list position — and resume validation — ambiguous)."
            )
        if next_index > total:
            raise ValueError(
                "The state object is not consistent with RequestList, "
                "too few requests loaded."
            )
        # ONE pass collects every batch-boundary uniqueKey (ranks congruent
        # to next_index modulo batch_size, so boundaries line up even when a
        # resume starts mid-list with a different batch size):
        # N/batch_size narrow rows on the driver. The drain loop then costs
        # exactly one scan per drained batch (the add_batch range filter) —
        # O(K) jobs for K batches, no per-batch rescan for the next key
        # (round-4 verdict item 5).
        boundary_rows = (
            ranked.filter(
                (F.col("_rl_rank") >= next_index)
                & ((F.col("_rl_rank") - next_index) % batch_size == 0)
            )
            .select("_rl_rank", "unique_key")
            .collect()
        )
        boundary_key = {r["_rl_rank"]: r["unique_key"] for r in boundary_rows}
        if (
            next_index < total
            and state.get("nextUniqueKey") is not None
            and boundary_key.get(next_index) != state["nextUniqueKey"]
        ):
            raise ValueError(
                "The state object is not consistent with RequestList "
                "the order of URLs seems to have changed."
            )
        drained = 0
        while next_index < total:
            if max_batches is not None and drained >= max_batches:
                break
            hi = min(next_index + batch_size, total)
            batch = ranked.filter(
                (F.col("_rl_rank") >= next_index) & (F.col("_rl_rank") < hi)
            ).drop("_rl_rank")
            add_batch(batch)
            next_index = hi
            nxt = boundary_key.get(next_index) if next_index < total else None
            self.kv.set_value(
                self._key,
                {
                    "nextIndex": next_index,
                    "nextUniqueKey": nxt,
                    "finished": next_index >= total,
                },
            )
            drained += 1
        if total == 0:
            self.kv.set_value(
                self._key, {"nextIndex": 0, "nextUniqueKey": None, "finished": True}
            )
        return drained
