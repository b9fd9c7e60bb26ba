"""Seeded person-registry generator for the dedupe benchmark.

One noise model for every workload, shaped like the reference's test asset
(``tests/generate_fake_dataset.py`` upstream, ``tests/datagen.py`` here):
nicknames, typos, missing ssn/sex/dob, twins (a different person with the
same last name and dob and an ssn off by one), married names on later
records, and dob noise. Names are drawn from Zipf-distributed vocabularies
so that a few names are common and most are rare, as in a real registry.

The benchmark calls :func:`write_inputs` before any timing. It writes the
program's inputs (source parquet, training JSON, config YAML) and, apart
from them, the ground truth (``truth.parquet``) and the input properties
(``props.json``) that only the benchmark reads.

Run alone to print a workload's input properties::

    python3 erbench/gen.py --workload er_small_batch --seed 1 --out inputs
"""

from __future__ import annotations

import argparse
import bisect
import collections
import itertools
import json
import os
import random
import string
import sys
from datetime import date, timedelta

# Workload shapes. ``people`` sets the volume; ``copies`` is the range of
# exact copies of each noisy record; ``sentinel_rate`` is the share of
# records whose dob is the placeholder ``SENTINEL_DOB`` (one hot block);
# ``merge_exact`` is the config's exact-merge rules. A rule on the
# source-only ``household_id`` column adds that column and makes
# exact-merge pass 2 run over the source.
WORKLOADS = {
    "er_small_batch": dict(people=600, mean_records=4.0, copies=(1, 1), sentinel_rate=0.01, merge_exact=[]),
    "er_dup_heavy": dict(
        people=100, mean_records=2.0, copies=(5, 15), sentinel_rate=0.0,
        merge_exact=[["household_id", "first_name"]],
    ),
    # tiny shape for the smoke test; not a benchmark workload. One
    # exact-merge rule: with a second one, on ssn, its traced run took
    # 125-170 s and could overrun the 170 s deadline on a slow host.
    "smoke": dict(
        people=60, mean_records=3.0, copies=(1, 3), sentinel_rate=0.02,
        merge_exact=[["household_id", "first_name"]],
    ),
}

SENTINEL_DOB = "1900-01-01"
MAX_RECORDS = 8
# (vocabulary size, Zipf exponent): the commonest first name is ~6% of
# people and the commonest last name ~3%
FIRST_ZIPF, LAST_ZIPF = (1000, 0.8), (8000, 0.75)

COMMON_FIRST = [
    "james", "mary", "robert", "patricia", "john", "jennifer", "michael",
    "linda", "david", "elizabeth", "william", "barbara", "richard", "susan",
    "joseph", "jessica", "thomas", "sarah", "charles", "karen", "chris",
    "nancy", "daniel", "lisa", "matthew", "betty", "anthony", "margaret",
]
COMMON_LAST = [
    "smith", "johnson", "williams", "brown", "jones", "garcia", "miller",
    "davis", "rodriguez", "martinez", "hernandez", "lopez", "gonzalez",
    "wilson", "anderson", "thomas", "taylor", "moore", "jackson", "martin",
]
NICK = {
    "james": "jim", "robert": "bob", "john": "jack", "michael": "mike",
    "william": "bill", "richard": "dick", "joseph": "joe", "thomas": "tom",
    "charles": "chuck", "daniel": "dan", "matthew": "matt", "anthony": "tony",
    "jennifer": "jen", "elizabeth": "liz", "jessica": "jess", "margaret": "peggy",
}
_SYLLABLES = [
    onset + vowel + coda
    for onset in "b br ch d f g gr h j k l m n p r s sh st t th v w z".split()
    for vowel in "a e i o u ai ou ee".split()
    for coda in ["", "n", "r", "s", "l", "t", "ck", "m"]
]


def _vocabulary(common: list[str], size: int, seed: int) -> list[str]:
    """``common`` followed by synthetic two-to-three-syllable names, fixed
    for every benchmark seed so that workloads share one name universe."""
    rng = random.Random(seed)
    out, seen = list(common), set(common)
    while len(out) < size:
        name = "".join(rng.choice(_SYLLABLES) for _ in range(rng.choice((2, 3, 3))))
        if name not in seen:
            seen.add(name)
            out.append(name)
    return out


def _zipf_cum(n: int, s: float) -> list[float]:
    return list(itertools.accumulate(1.0 / (r + 1) ** s for r in range(n)))


FIRST = _vocabulary(COMMON_FIRST, FIRST_ZIPF[0], 11)
LAST = _vocabulary(COMMON_LAST, LAST_ZIPF[0], 12)
_FIRST_CUM = _zipf_cum(*FIRST_ZIPF)
_LAST_CUM = _zipf_cum(*LAST_ZIPF)


def _pick(rng: random.Random, names: list[str], cum: list[float]) -> str:
    return names[bisect.bisect(cum, rng.random() * cum[-1])]


def _typo(rng: random.Random, s: str, rate: float) -> str:
    return "".join(
        rng.choice(string.ascii_lowercase) if rng.random() < rate else ch for ch in s
    )


def _ssn(rng: random.Random) -> str:
    return f"{rng.randint(100, 999)}-{rng.randint(10, 99)}-{rng.randint(1000, 9999)}"


def _ssn_off_by_one(ssn: str) -> str:
    digits = str(int(ssn.replace("-", "")) + 1).zfill(9)
    return f"{digits[:3]}-{digits[3:5]}-{digits[5:]}"


def _dob(rng: random.Random) -> str:
    return f"{rng.randint(1940, 2005)}-{rng.randint(1, 12):02d}-{rng.randint(1, 28):02d}"


def _munge_dob(rng: random.Random, dob: str) -> str:
    """Per-record dob noise: day/month swap, ±1 month, ±1 day, ±1 year and
    a N(0, 6 months) drift; most draws keep the true date."""
    dt = date.fromisoformat(dob)
    r = rng.random()
    if dt.day <= 12 and r < 0.01:
        dt = date(dt.year, dt.day, dt.month)
    elif dt.month < 12 and r < 0.02:
        dt = date(dt.year, dt.month + 1, min(dt.day, 28))
    elif dt.day < 28 and r < 0.04:
        dt = date(dt.year, dt.month, dt.day + 1)
    elif r < 0.06:
        dt = date(dt.year + rng.choice((-1, 1)), dt.month, min(dt.day, 28))
    elif r < 0.10:
        dt = dt + timedelta(days=rng.normalvariate(0, 365 / 2))
    return dt.isoformat()


def _people(rng: random.Random, n: int, twin_rate: float, married_rate: float) -> list[dict]:
    people = []
    for _ in range(n):
        p = {
            "first": _pick(rng, FIRST, _FIRST_CUM),
            "last": _pick(rng, LAST, _LAST_CUM),
            "ssn": _ssn(rng),
            "sex": rng.choice("MF"),
            "dob": _dob(rng),
            "married_last": None,
        }
        people.append(p)
        if rng.random() < twin_rate:
            other = p["first"]
            while other == p["first"]:
                other = _pick(rng, FIRST, _FIRST_CUM)
            people.append(
                {
                    "first": other,
                    "last": p["last"],
                    "ssn": _ssn_off_by_one(p["ssn"]),
                    "sex": "F" if p["sex"] == "M" else "M",
                    "dob": p["dob"],
                    "married_last": None,
                }
            )
    for p in people:
        if rng.random() < married_rate:
            p["married_last"] = _pick(rng, LAST, _LAST_CUM)
    return people


def _variant(rng: random.Random, p: dict, later: bool, sentinel_rate: float) -> dict:
    first = p["first"]
    if rng.random() < 0.2 and first in NICK:
        first = NICK[first]
    last = p["married_last"] if later and p["married_last"] else p["last"]
    dob = None if rng.random() < 0.05 else _munge_dob(rng, p["dob"])
    if dob is not None and rng.random() < sentinel_rate:
        dob = SENTINEL_DOB
    return {
        "first_name": _typo(rng, first, 1 / 100),
        "last_name": _typo(rng, last, 1 / 100),
        "ssn": None if rng.random() < 0.15 else p["ssn"],
        "sex": None if rng.random() < 0.05 else p["sex"],
        "dob": dob,
    }


def generate(workload: str, seed: int):
    """Returns (rows, person_ids, training, config, props) for a workload.

    ``rows`` are source dicts keyed by ``entry_id``; ``person_ids[i]`` is
    the generator's person of ``rows[i]`` (the ground truth)."""
    spec = WORKLOADS[workload]
    rng = random.Random(f"{workload}:{seed}")
    people = _people(rng, spec["people"], twin_rate=0.02, married_rate=0.03)
    household = any("household_id" in rule for rule in spec["merge_exact"])
    # households of 1-4 people with distinct first names; the id is missing
    # on a third of the records
    households, names, hh, size = [], set(), 0, rng.randint(1, 4)
    for p in people:
        if len(names) == size or p["first"] in names:
            names, hh, size = set(), hh + 1, rng.randint(1, 4)
        names.add(p["first"])
        households.append(hh)
    rows, person_ids = [], []
    for pid, p in enumerate(people):
        # capped, so that no few prolific people dominate the pair counts
        n_rec = min(MAX_RECORDS, 1 + int(rng.expovariate(1.0 / (spec["mean_records"] - 1))))
        for i in range(n_rec):
            rec = _variant(rng, p, later=i >= (n_rec + 1) // 2, sentinel_rate=spec["sentinel_rate"])
            if household:
                rec["household_id"] = None if rng.random() < 0.33 else f"h{households[pid]:06d}"
            for _ in range(rng.randint(*spec["copies"])):
                rows.append(rec)
                person_ids.append(pid)
    order = list(range(len(rows)))
    rng.shuffle(order)
    rows = [dict(rows[i], entry_id=k + 1) for k, i in enumerate(order)]
    person_ids = [person_ids[i] for i in order]
    # one labeled set per workload, whatever the seed: a deployment reuses
    # its curated training file while the records change
    training = _training(random.Random(f"train:{workload}"))
    config = _config(spec["merge_exact"])
    props = _props(rows, person_ids, config)
    return rows, person_ids, training, config, props


def _training(rng: random.Random, n: int = 60) -> dict:
    """Labeled pairs from the same noise model, as a labeler would give
    them: plain matches and non-matches, plus namesakes, twins (hard
    negatives) and married names (hard positives) as a minority."""
    match, distinct = [], []
    for i in range(n):
        p, q = _people(rng, 2, 0.0, 0.0)
        a = _variant(rng, p, later=False, sentinel_rate=0.0)
        match.append((a, _variant(rng, p, later=False, sentinel_rate=0.0)))
        distinct.append((a, _variant(rng, q, later=False, sentinel_rate=0.0)))
        if i % 3 == 1:
            namesake = dict(q, first=p["first"])
            distinct.append((a, _variant(rng, namesake, later=False, sentinel_rate=0.0)))
        if i % 6 == 0:
            twin = dict(p, first=q["first"], ssn=_ssn_off_by_one(p["ssn"]),
                        sex="F" if p["sex"] == "M" else "M")
            distinct.append((a, _variant(rng, twin, later=False, sentinel_rate=0.0)))
            married = dict(p, married_last=q["last"])
            match.append((a, _variant(rng, married, later=True, sentinel_rate=0.0)))
    return {"match": match, "distinct": distinct}


def _config(merge_exact: list[list[str]]) -> dict:
    return {
        "schema": "dedupe",
        "table": "entries",
        "key": "entry_id",
        "fields": [
            {"field": "first_name", "type": "String"},
            {"field": "last_name", "type": "String"},
            {"field": "ssn", "type": "String", "has missing": True},
            {"field": "dob", "type": "String", "has missing": True},
        ],
        "filter_condition": "1=1",
        "merge_exact": merge_exact,
        "threshold": 0.5,
        "recall": 0.9,
    }


def quantile(sorted_vals: list[int], q: float) -> int:
    """The ``q`` quantile of a sorted list (nearest rank); 0 when empty."""
    if not sorted_vals:
        return 0
    return sorted_vals[min(len(sorted_vals) - 1, int(q * len(sorted_vals)))]


def _props(rows: list[dict], person_ids: list[int], config: dict) -> dict:
    """Input properties: volume, exact-duplicate share, people, and the
    sizes of the exact-value blocks of each field over the unique rows
    (``hot_block`` is the sentinel-dob block)."""
    fields = [f["field"] for f in config["fields"]]
    unique = {tuple(r[f] for f in fields) for r in rows}
    props = {"rows": len(rows), "unique_rows": len(unique), "people": len(set(person_ids))}
    for i, f in enumerate(fields):
        sizes = sorted(c for c in collections.Counter(u[i] for u in unique if u[i] is not None).values() if c > 1)
        if sizes:
            props[f"block_{f}"] = {"p50": quantile(sizes, 0.5), "p99": quantile(sizes, 0.99), "max": sizes[-1]}
    props["hot_block"] = sum(1 for u in unique if u[fields.index("dob")] == SENTINEL_DOB)
    return props


def write_inputs(workload: str, seed: int, out_dir: str) -> dict:
    """Write ``entries.parquet``, ``training.json``, ``config.yaml``,
    ``truth.parquet`` and ``props.json`` under ``out_dir``; return props."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    import yaml

    from pgdedupe_spark.ml.training import write_training

    rows, person_ids, training, config, props = generate(workload, seed)
    os.makedirs(out_dir, exist_ok=True)
    cols = ["entry_id", "first_name", "last_name", "ssn", "sex", "dob"]
    if "household_id" in rows[0]:
        cols.append("household_id")
    table = pa.table(
        {c: pa.array([r[c] for r in rows], pa.int64() if c == "entry_id" else pa.string()) for c in cols}
    )
    pq.write_table(table, os.path.join(out_dir, "entries.parquet"))
    pq.write_table(
        pa.table({"entry_id": table["entry_id"], "person_id": pa.array(person_ids, pa.int64())}),
        os.path.join(out_dir, "truth.parquet"),
    )
    write_training(os.path.join(out_dir, "training.json"), training)
    with open(os.path.join(out_dir, "config.yaml"), "w") as f:
        yaml.safe_dump(config, f, sort_keys=False)
    with open(os.path.join(out_dir, "props.json"), "w") as f:
        json.dump(props, f, indent=1)
    return props


if __name__ == "__main__":
    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--out", required=True)
    a = ap.parse_args()
    print(json.dumps(write_inputs(a.workload, a.seed, a.out), indent=1))
