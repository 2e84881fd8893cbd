"""Faults the self-tests plant through ``run.py --plant`` to prove the
benchmark's output checks catch them. Never used in a measured run."""

from __future__ import annotations

from clj_kinesis_to_firehose_spark.streaming.firehose_sink import LocalDirFirehoseClient

#: the query whose oracle ``wrong_oracle`` corrupts
WRONG_ORACLE_QUERY = "agg_groupby"


class DroppingClient(LocalDirFirehoseClient):
    """Reports every put as accepted but silently loses the first record
    of its first put (one record per client, that is per partition and
    micro-batch)."""

    def __init__(self, out_dir, fail_first_attempt_every=0):
        super().__init__(out_dir, fail_first_attempt_every=fail_first_attempt_every)
        self._dropped = False

    def put_record_batch(self, stream_name, batch, idempotency_key=None):
        if not self._dropped and batch:
            self._dropped = True
            super().put_record_batch(stream_name, batch[1:], idempotency_key)
            return []
        return super().put_record_batch(stream_name, batch, idempotency_key)


def wrong_oracles(oracles: dict[str, str]) -> dict[str, str]:
    """The registry's oracles with one extra row in one of them."""
    sql = oracles[WRONG_ORACLE_QUERY]
    return {
        **oracles,
        WRONG_ORACLE_QUERY: f"SELECT * FROM ({sql}) UNION ALL (SELECT * FROM ({sql}) LIMIT 1)",
    }
