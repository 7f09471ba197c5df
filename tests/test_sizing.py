"""The broadcast guard against measured build sizes (no Spark session).

Measured as the dataSize metric of BroadcastExchange (local[4], AQE off):
2 M (long, long) pairs build 134,217,728 B and 2 M 15-char request_id
strings build 268,435,456 B, both at or over the 128 MB cap."""

from crawlee_spark.operators.sizing import ROW_OVERHEAD, fits_broadcast

PAIR_BYTES = 16  # two longs: the dedup candidate-pair payload
ID_BYTES = 15  # one request_id


def test_estimate_covers_measured_builds():
    for rows, payload, measured in (
        (2_000_000, PAIR_BYTES, 134_217_728),
        (2_000_000, ID_BYTES, 268_435_456),
    ):
        assert rows * (payload + ROW_OVERHEAD) >= measured


def test_rejects_two_million_pairs_and_ids():
    n = 2_000_000
    assert not fits_broadcast(n, PAIR_BYTES * n)
    assert not fits_broadcast(n, ID_BYTES * n)


def test_accepts_hundred_thousand_pairs_and_ids():
    n = 100_000
    assert fits_broadcast(n, PAIR_BYTES * n)
    assert fits_broadcast(n, ID_BYTES * n)

