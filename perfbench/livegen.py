"""Open-loop load generator for the ``risk_live`` workload, run as its
own process so a slow engine never slows the schedule.

Two sub-commands:

- ``preload``: write the customer pool (``--pool`` redis-server
  envelopes) as one JSON-lines file in the customer directory.
- ``run``: from ``--start-at`` on, every ``--tick`` seconds publish
  ``--rate * --tick`` stedi-events risk events as one JSON-lines file;
  ``--new-share`` of them come from customers outside the pool, whose
  envelope file is published first in the same tick. Each file is
  written in a staging directory and atomically renamed into the
  watched one; the rename time is the event's stamp. The manifest of
  every event (id, customer, stamp) is written to ``--manifest`` when
  the schedule ends.

Every line is ``{"value": "<payload>"}`` — the Kafka record value the
production job reads, as the file source's single string column.
Event ids travel in the ``score`` field (exact in float32 below 2^24),
so every emitted row names the event it came from.
"""

from __future__ import annotations

import argparse
import base64
import json
import os
import random
import time


def email(cust: int) -> str:
    return f"customer_{cust:09d}@example.com"


def birth_day(rng: random.Random) -> str:
    return f"{rng.randint(1920, 1999)}-01-{rng.randint(1, 28):02d}"


def envelope(cust: int, birth: str) -> str:
    inner = json.dumps(
        {
            "customerName": f"Customer#{cust:09d}",
            "email": email(cust),
            "phone": f"555{cust % 10000:04d}",
            "birthDay": birth,
        }
    )
    entry = {"element": base64.b64encode(inner.encode()).decode(), "score": 0.0}
    return json.dumps(
        {
            "key": base64.b64encode(b"Customer").decode(),
            "existType": "NONE",
            "ch": False,
            "incr": False,
            "zSetEntries": [entry],
            "zsetEntries": [entry],
        }
    )


def risk_event(event_id: int, cust: int, now: float) -> str:
    ms = int(now * 1000)
    date = time.strftime("%Y-%m-%dT%H:%M:%S", time.gmtime(ms // 1000))
    return json.dumps(
        {"customer": email(cust), "score": float(event_id), "riskDate": f"{date}.{ms % 1000:03d}Z"}
    )


def publish(stage_dir: str, target_dir: str, name: str, payloads: list[str]) -> float:
    """Write lines to the staging dir, rename into the watched dir, and
    return the time the rename completed."""
    staged = os.path.join(stage_dir, name)
    with open(staged, "w") as f:
        f.write("".join(json.dumps({"value": p}) + "\n" for p in payloads))
    os.rename(staged, os.path.join(target_dir, name))
    return time.time()


def pool_births(seed: int, pool: int) -> list[str]:
    rng = random.Random(f"{seed}:pool")
    return [birth_day(rng) for _ in range(pool)]


def preload(args: argparse.Namespace) -> None:
    births = pool_births(args.seed, args.pool)
    publish(
        args.stage_dir,
        args.cust_dir,
        "cust-pool.json",
        [envelope(c, births[c]) for c in range(args.pool)],
    )


def run(args: argparse.Namespace) -> None:
    rng = random.Random(f"{args.seed}:events")
    births = pool_births(args.seed, args.pool)
    per_tick = int(round(args.rate * args.tick))
    n_ticks = int(round((args.warmup + args.seconds) / args.tick))
    events: list[list] = []
    customers: dict[int, str] = {}
    ticks: list[list[float]] = []
    next_id = 0
    next_new = args.pool
    for k in range(n_ticks):
        batch, new_custs = [], []
        for _ in range(per_tick):
            if rng.random() < args.new_share:
                cust = next_new
                next_new += 1
                births.append(birth_day(rng))
                new_custs.append(envelope(cust, births[cust]))
            else:
                cust = rng.randrange(args.pool)
            customers[cust] = births[cust].split("-")[0]
            batch.append((next_id, cust))
            next_id += 1
        due = args.start_at + k * args.tick
        delay = due - time.time()
        if delay > 0:
            time.sleep(delay)
        if new_custs:
            publish(args.stage_dir, args.cust_dir, f"cust-{k:06d}.json", new_custs)
        now = time.time()
        stamp = publish(
            args.stage_dir,
            args.risk_dir,
            f"risk-{k:06d}.json",
            [risk_event(eid, cust, now) for eid, cust in batch],
        )
        ticks.append([due, stamp])
        events.extend([eid, cust, k] for eid, cust in batch)
    with open(args.manifest, "w") as f:
        json.dump(
            {
                "ticks": ticks,
                "events": events,
                "birth_year": {str(c): y for c, y in customers.items()},
            },
            f,
        )


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("mode", choices=("preload", "run"))
    ap.add_argument("--cust-dir", required=True)
    ap.add_argument("--risk-dir", required=True)
    ap.add_argument("--stage-dir", required=True)
    ap.add_argument("--manifest")
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--pool", type=int, required=True)
    ap.add_argument("--rate", type=float, default=1000.0)
    ap.add_argument("--tick", type=float, default=0.25)
    ap.add_argument("--new-share", type=float, default=0.05)
    ap.add_argument("--start-at", type=float, default=0.0)
    ap.add_argument("--warmup", type=float, default=0.0)
    ap.add_argument("--seconds", type=float, default=0.0)
    args = ap.parse_args()
    if args.mode == "preload":
        preload(args)
    else:
        run(args)


if __name__ == "__main__":
    main()
