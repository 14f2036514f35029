"""Seeded order events for ``orders_etl`` and the expected sink table.

Pure Python (no Spark), shared by the generator process, which writes
the events, and the output check, which rebuilds the table the upsert
sink must hold from the same seed.  The mix follows the F1 fixture:
about 1% malformed JSON, some empty baskets, ``ship_to_city_id``s the
cities dimension lacks, both fulfilment branches, and identical-payload
redeliveries that must collapse in the upsert.
"""

from __future__ import annotations

import random

N_PARTITIONS = 4
#: cities 1..50 are in the dimension; 51..55 are unmatched (left join → null)
N_CITIES = 50
MAX_CITY_ID = 55
MALFORMED_SHARE = 0.01
EMPTY_BASKET_SHARE = 0.05
REDELIVERY_SHARE = 0.005
SHIP_METHODS = ("Express", "Standard", "Economy", "Collect")
DISCOUNTS = (0.0, 5.0, 10.0, 12.5, 15.0, 20.0, 33.3)

#: sink columns in table order (curate_orders + the dimension's ``city``)
SINK_COLUMNS = (
    "order_number", "discounted_total", "data_key", "ship_to_city_id",
    "order_date", "ship_method", "fufilment_type", "city",
)
#: what ``orders_enrichment_stream`` makes of a malformed payload:
#: reference semantics, an all-null row keyed ``''`` that takes the
#: ELSE branch of the fulfilment CASE
MALFORMED_ROW = (None, None, "", None, None, None, "Merchant", None)


def cities() -> list[tuple[int, str]]:
    return [(i, f"city-{i:02d}") for i in range(1, N_CITIES + 1)]


def _event(rng: random.Random, seq: int) -> tuple[bytes, tuple]:
    """One event: its Kafka ``value`` and the sink row it must become."""
    r = rng.random
    if r() < MALFORMED_SHARE:
        return b'{"order_id": %d, "order_total": ' % seq, MALFORMED_ROW  # truncated
    items = []
    if r() >= EMPTY_BASKET_SHARE:
        items = [
            f'{{"order_qty": {1 + int(5 * r())}, "product_id": {1 + int(2000 * r())}, '
            f'"is_discounted": {"true" if r() < 0.3 else "false"}}}'
            for _ in range(1 + int(4 * r()))
        ]
    total = round(5.0 + 495.0 * r(), 2)
    pct = DISCOUNTS[int(len(DISCOUNTS) * r())]
    city = 1 + int(MAX_CITY_ID * r())
    method = SHIP_METHODS[int(len(SHIP_METHODS) * r())]
    # char 6 is the year's last digit: '3' → Bexley, else Merchant; the
    # sequence number keeps every order's data_key distinct
    number = f"BEX-2{int(10 * r())}-{seq:07d}"
    date = (
        f"2023-{1 + int(12 * r()):02d}-{1 + int(28 * r()):02d} "
        f"{int(24 * r()):02d}:{int(60 * r()):02d}:{int(60 * r()):02d}"
    )
    value = (
        f'{{"order_id": {seq}, "order_total": {total!r}, "ship_to_city_id": {city}, '
        f'"freight": {round(30.0 * r(), 2)!r}, "customer_id": {1 + int(5000 * r())}, '
        f'"ship_method": "{method}", "order_number": "{number}", '
        f'"discount_applied": {pct!r}, "order_date": "{date}", '
        f'"order_basket": [{", ".join(items)}]}}'
    ).encode()
    row = (
        number,
        total - (pct / 100.0) * total,
        f"{number}-{date[:10]}",
        city,
        date,
        method,
        "Bexley" if number[5] == "3" else "Merchant",
        f"city-{city:02d}" if city <= N_CITIES else None,
    )
    return value, row


class EventLog:
    """Every event of a run, in sequence order.  Files must be made in
    file-number order; the same seed then gives the same files in every
    process."""

    def __init__(self, seed: int) -> None:
        self.seed = seed
        self.values: list[bytes] = []
        self.rows: list[tuple] = []

    def file(self, file_no: int, n: int) -> list[int]:
        """Sequence numbers carried by file ``file_no``: ``n`` new events
        plus redeliveries of events from earlier files, shuffled in."""
        rng = random.Random(self.seed * 7_919 + file_no)
        seq0 = len(self.values)
        for seq in range(seq0, seq0 + n):
            value, row = _event(rng, seq)
            self.values.append(value)
            self.rows.append(row)
        seqs = list(range(seq0, seq0 + n))
        if seq0 > 0:
            seqs += [rng.randrange(seq0) for _ in range(round(n * REDELIVERY_SHARE))]
        rng.shuffle(seqs)
        return seqs

    def records(self, seqs: list[int], due_ts) -> list[dict]:
        """Replay-source records for one append; every record carries the
        file's due time as its Kafka timestamp."""
        return [
            {"value": self.values[s], "partition": s % N_PARTITIONS, "timestamp": due_ts}
            for s in seqs
        ]

    def expected_table(self, seqs) -> dict[str, tuple]:
        """data_key → row for every event delivered.  Distinct events
        never share a key, so last-write-wins has one answer whatever
        the order."""
        table: dict[str, tuple] = {}
        for s in seqs:
            row = self.rows[s]
            if table.setdefault(row[2], row) != row:
                raise ValueError(f"two different events share data_key {row[2]!r}")
        return table
