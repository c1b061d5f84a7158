"""Seeded input generators for the lakehouse benchmark.

Everything derives from ``random.Random`` seeded by the workload seed,
so one seed always yields the same trips, JSONL batches, documents and
statement mix. The generators also return the model the output checks
compare against: the expected classification of every JSONL row, the
injected duplicate groups of a document shard.

Trip ids carry a sequence number that keeps counting across batches
(``TripGen.seq``), so a multi-batch input never repeats a key and MERGE
on ``trip_id`` never sees a duplicate source key.
"""

from __future__ import annotations

import json
import os
from datetime import datetime, timedelta
from random import Random

DAY0 = datetime(2025, 3, 1)
N_DAYS = 30
N_ZONES = 40
PAYMENT_TYPES = ["card", "cash", "no_charge", "dispute"]
PAYMENT_WEIGHTS = [0.70, 0.25, 0.03, 0.02]
BOROUGHS = ["Manhattan", "Brooklyn", "Queens", "Bronx"]
ERROR_CLASSES = [
    "missing_field",
    "invalid_timestamp_format",
    "invalid_timestamp_order",
    "validation_failed",
]

# Column order of the typed trip rows `TripGen.trip` returns.
TRIP_COLUMNS = [
    "trip_id",
    "vendor_id",
    "pickup_datetime",
    "dropoff_datetime",
    "passenger_count",
    "trip_distance",
    "payment_type",
    "fare_amount",
    "tip_amount",
    "total_amount",
    "pickup_location_id",
    "dropoff_location_id",
    "pickup_hour",
    "pickup_date",
]


def zipf_weights(n: int, s: float = 1.1) -> list[float]:
    return [1.0 / (k + 1) ** s for k in range(n)]


def day_str(day: int) -> str:
    return (DAY0 + timedelta(days=day)).strftime("%Y-%m-%d")


def zone_rows() -> list[tuple]:
    """(zone_id, zone_name, borough) for the zones dimension."""
    return [(z, f"Zone {z:02d}", BOROUGHS[z % len(BOROUGHS)]) for z in range(1, N_ZONES + 1)]


class TripGen:
    """Trips with ids unique across every batch drawn from one generator.

    Pickup locations are Zipf-skewed (a few busy zones), pickups fall on
    the requested days at second granularity, and money is whole cents so
    sums are exact in both the engine and the checks."""

    def __init__(self, seed: int, tag: str = "t"):
        self.rng = Random(seed)
        self.tag = tag
        self.seq = 0
        self.zone_w = zipf_weights(N_ZONES)

    def trip(self, day: int) -> tuple:
        rng = self.rng
        pickup = DAY0 + timedelta(days=day, seconds=rng.randrange(86400))
        minutes = rng.randint(5, 120)
        distance_c = rng.randint(50, 2500)  # hundredths of a mile
        fare_c = 250 + distance_c * 250 // 100 + minutes * 50
        payment = rng.choices(PAYMENT_TYPES, weights=PAYMENT_WEIGHTS)[0]
        tip_c = fare_c * rng.randint(15, 25) // 100 if payment == "card" and rng.random() > 0.3 else 0
        loc = rng.choices(range(1, N_ZONES + 1), weights=self.zone_w)[0]
        row = (
            f"{self.tag}{self.seq:09d}",
            rng.choice([1, 2]),
            pickup,
            pickup + timedelta(minutes=minutes),
            rng.choices([1, 2, 3, 4, 5], weights=[60, 20, 10, 8, 2])[0],
            distance_c / 100,
            payment,
            fare_c / 100,
            tip_c / 100,
            (fare_c + 50 + tip_c) / 100,
            loc,
            rng.randint(1, N_ZONES),
            pickup.replace(minute=0, second=0),
            day_str(day),
        )
        self.seq += 1
        return row

    def batch(self, n: int, days: range) -> list[tuple]:
        return [self.trip(days[i % len(days)]) for i in range(n)]


def trips_pandas(rows: list[tuple]):
    import pandas as pd

    return pd.DataFrame(rows, columns=TRIP_COLUMNS)


TRIP_DDL = (
    "trip_id string, vendor_id long, pickup_datetime timestamp, "
    "dropoff_datetime timestamp, passenger_count long, trip_distance double, "
    "payment_type string, fare_amount double, tip_amount double, "
    "total_amount double, pickup_location_id long, dropoff_location_id long, "
    "pickup_hour timestamp, pickup_date string"
)


# -- JSONL batches for the streaming ingest --------------------------------


def _iso(ts: datetime) -> str:
    return ts.isoformat() + "Z"


def jsonl_batch(gen: TripGen, n: int, rng: Random, corrupt_frac: float = 0.1):
    """`n` raw trip events in the streaming input shape, about
    `corrupt_frac` of them corrupted with one of the four error classes
    the classifier tags. Returns (records, expected) where expected
    holds the error class per record (None for valid) and, for valid
    rows, the (minute window, location, total cents) the window stats
    should count."""
    records, expected = [], []
    for _ in range(n):
        (tid, vendor, pu, do, pax, dist, pay, fare, tip, total, loc, doloc, _, _) = gen.trip(
            rng.randrange(N_DAYS)
        )
        rec = {
            "trip_id": tid,
            "vendor_id": vendor,
            "pickup_datetime": _iso(pu),
            "dropoff_datetime": _iso(do),
            "passenger_count": pax,
            "trip_distance": dist,
            "pickup_longitude": -74.0 + loc * 0.001,
            "pickup_latitude": 40.7 + loc * 0.001,
            "dropoff_longitude": -74.0 + doloc * 0.001,
            "dropoff_latitude": 40.7 + doloc * 0.001,
            "payment_type": pay,
            "fare_amount": fare,
            "extra": 0.0,
            "mta_tax": 0.5,
            "tip_amount": tip,
            "tolls_amount": 0.0,
            "total_amount": total,
            "pickup_location_id": loc,
            "dropoff_location_id": doloc,
            "event_timestamp": _iso(pu),
        }
        err = None
        if rng.random() < corrupt_frac:
            err = rng.choice(ERROR_CLASSES)
            if err == "missing_field":
                rec[rng.choice(["pickup_datetime", "trip_distance", "total_amount"])] = None
            elif err == "invalid_timestamp_format":
                rec["pickup_datetime"] = "not-a-timestamp"
            elif err == "invalid_timestamp_order":
                rec["pickup_datetime"], rec["dropoff_datetime"] = (
                    rec["dropoff_datetime"],
                    rec["pickup_datetime"],
                )
            else:
                rec[rng.choice(["trip_distance", "total_amount"])] = -1.0
        records.append(rec)
        window = pu.replace(second=0)
        expected.append(err if err else (window, loc, round(total * 100)))
    return records, expected


def write_jsonl(records: list[dict], path: str) -> int:
    """Write one JSONL file; returns its size in bytes."""
    with open(path, "w") as f:
        for r in records:
            f.write(json.dumps(r) + "\n")
    return os.path.getsize(path)


# -- document shards for curation ------------------------------------------


def _vocab(rng: Random, size: int) -> list[str]:
    letters = "bcdfghjklmnprstvz"
    vowels = "aeiou"
    words = set()
    while len(words) < size:
        k = rng.randint(2, 4)
        words.add("".join(rng.choice(letters) + rng.choice(vowels) for _ in range(k)))
    return sorted(words)


class DocGen:
    """Heaps/Zipf document shards with injected duplicate groups.

    Word frequencies follow Zipf over a fixed vocabulary, so the number
    of distinct words grows sublinearly with corpus size (Heaps' law).
    Each shard has fresh random documents plus `groups` injected groups:
    an original, exact copies and near-copies with two words replaced
    (word 3-shingle Jaccard ~0.8, well above the 0.5 threshold)."""

    def __init__(self, seed: int, vocab_size: int = 4000):
        self.rng = Random(seed)
        self.vocab = _vocab(self.rng, vocab_size)
        self.cum = list(_accumulate(zipf_weights(vocab_size, 1.05)))
        self.next_id = 0

    def _doc(self, n_words: int) -> list[str]:
        return self.rng.choices(self.vocab, cum_weights=self.cum, k=n_words)

    def shard(self, n_docs: int, groups: int):
        """Returns (rows, dup_groups): rows are (doc_id, text, lang);
        dup_groups lists each injected group's doc ids, original first."""
        rng = self.rng
        texts: list[str] = []
        dup_groups: list[list[int]] = []
        base = self.next_id
        n_random = n_docs - groups * 3
        for _ in range(n_random):
            texts.append(" ".join(self._doc(rng.randint(60, 90))))
        for _ in range(groups):
            words = self._doc(rng.randint(60, 90))
            ids = [base + len(texts)]
            texts.append(" ".join(words))
            ids.append(base + len(texts))
            texts.append(" ".join(words))  # exact copy
            near = list(words)
            for pos in rng.sample(range(len(near)), 2):
                near[pos] = rng.choice(self.vocab)
            ids.append(base + len(texts))
            texts.append(" ".join(near))
            dup_groups.append(ids)
        self.next_id = base + len(texts)
        rows = [(base + i, t, "en") for i, t in enumerate(texts)]
        return rows, dup_groups


def _accumulate(ws):
    total = 0.0
    for w in ws:
        total += w
        yield total


# -- analytics statement mix ------------------------------------------------

def analytics_statements(seed: int, n_days: int, n_snapshots: int) -> list[tuple[str, tuple]]:
    """The distinct (template, params) statements of the analytics mix,
    in popularity order: `statement_deck` repeats the first ones most.
    The seed draws each statement's dates, pickup locations and snapshot
    within the table's `n_days` days and `n_snapshots` snapshots; the
    kinds and their order are the same for every seed, so every run
    times the same mix of statement shapes."""
    rng = Random(seed)

    def window(days: int) -> tuple[str, str]:
        d0 = rng.randrange(n_days - days + 1)
        return day_str(d0), day_str(d0 + days - 1)

    def busy_zones() -> tuple[int, ...]:
        return tuple(sorted(rng.sample(range(1, 13), rng.randint(3, 6))))

    return [
        ("dashboard", (*window(7), busy_zones())),
        ("day_count", (window(1)[0],)),
        ("dashboard", (*window(7), busy_zones())),
        ("rank_cte", window(5)),
        ("zone_join", window(10)),
        ("time_travel", (rng.randrange(1, n_snapshots - 1),)),
        ("files_meta", ()),
    ]


def statement_deck(n_statements: int) -> list[int]:
    """A Zipf-skewed deck of statement indexes: statement k appears about
    5/(k+1)^0.9 times (at least once), its copies spread evenly over the
    deck. The deck is the same for every seed, so a run that ends part
    way through it times the same statements whatever the seed."""
    counts = [max(1, round(5 / (k + 1) ** 0.9)) for k in range(n_statements)]
    return [k for _, k in sorted(((j + 0.5) / c, k) for k, c in enumerate(counts) for j in range(c))]


def client_schedule(deck: list[int], client: int, clients: int, length: int) -> list[int]:
    """Client `client` walks the deck from its own offset, so the first
    len(deck) statements of all clients together are exactly one deck."""
    start = client * len(deck) // clients
    return [deck[(start + j) % len(deck)] for j in range(length)]
