#!/usr/bin/env python3
"""Write the CouchDB `_changes` feeds the ScalaTest suite reads, and the
golden rows of the person feed, under src/test/resources/couch/.

    python3 tools/make_couch_fixtures.py           # (re)write the fixtures
    python3 tools/make_couch_fixtures.py --check   # byte-compare with the committed files

The feeds have the shapes of couchwarehouse's own test fixtures (FIXTURES.md,
SURVEY.md sections 1.3, 1.4 and 5):

- samplechanges.txt: 100 person-doc changes, seq tokens up to 104 with
  gaps, one tombstone -> 99 live rows; samplequery.json holds those rows;
- samplechanges2.txt: 230 typed docs, 20 product / 200 order / 10 user;
- samplechanges3.txt: 30 orders, 20 with dispatchCourierRef (the first doc
  among them), 10 without.

The docs come from a seeded random.Random. The golden rows and the counts
come from one DuckDB last-writer-wins query run on the written files, never
from graft's output. Standard library plus DuckDB only.
"""

import argparse
import filecmp
import json
import os
import random
import string
import sys
import tempfile

import duckdb

SEED = 20190417
OUT = os.path.join(os.path.dirname(os.path.abspath(__file__)), "..",
                   "src", "test", "resources", "couch")
FILES = ["samplechanges.txt", "samplechanges2.txt", "samplechanges3.txt",
         "samplequery.json"]

# Docs the specs name by value.
GARFIELD = {"_id": "001g6v3h2hrgcP45xCdc343JmY4X0qHA",
            "name": "Garfield Jamieson", "age": 38}
KRISTY = {"name": "Kristy George", "age": 36, "verified": True}

FIRST = ["Abigail", "Bernard", "Carmen", "Desmond", "Eleanor", "Felix",
         "Gloria", "Horace", "Imogen", "Jasper", "Leonora", "Malcolm",
         "Nadia", "Oswald", "Priscilla", "Quentin", "Rosalind", "Sebastian",
         "Tabitha", "Ulysses", "Veronica", "Wilfred", "Yolanda", "Zachary"]
LAST = ["Abbott", "Blackwood", "Castillo", "Donnelly", "Ellison", "Fairbanks",
        "Grantham", "Holloway", "Iverson", "Kowalski", "Lindqvist",
        "McAllister", "Novak", "Okafor", "Pemberton", "Quinlan", "Rutherford",
        "Sandoval", "Thornbury", "Underwood", "Vasquez", "Whitlock"]
WORDS = ["lorem", "ipsum", "dolor", "sit", "amet", "consectetur", "adipiscing",
         "elit", "sed", "do", "eiusmod", "tempor", "incididunt", "ut", "labore",
         "et", "dolore", "magna", "aliqua", "enim", "minim", "veniam", "quis",
         "nostrud", "exercitation", "ullamco", "laboris", "nisi", "aliquip"]
TAGS = ["alpha", "beta", "gamma", "delta", "epsilon", "zeta", "eta", "theta",
        "iota", "kappa", "lambda", "omicron"]
STREETS = ["Acacia", "Birch", "Cedar", "Dogwood", "Elm", "Foxglove", "Hawthorn",
           "Juniper", "Laurel", "Magnolia", "Oak", "Rowan", "Willow"]
SUFFIXES = ["Avenue", "Close", "Drive", "Lane", "Road", "Street", "Way"]
PRODUCTS = ["Kettle", "Toaster", "Blender", "Teapot", "Colander", "Whisk",
            "Ladle", "Skillet", "Grater", "Peeler"]
COURIERS = ["DHL", "UPS", "FEDEX", "DPD", "YODEL"]

ALNUM = string.ascii_letters + string.digits

# Last-writer-wins over a `_changes` envelope: one row per id, the change
# with the highest seq prefix, tombstones dropped. Docs stay JSON.
LWW = """
WITH changes AS (
  SELECT unnest(results) AS c FROM read_json(?, columns = {results: 'JSON[]'})
), latest AS (
  SELECT c->>'id' AS id, coalesce(CAST(c->>'deleted' AS BOOLEAN), false) AS deleted,
         c->'doc' AS doc
  FROM changes
  QUALIFY row_number() OVER (
    PARTITION BY c->>'id' ORDER BY CAST(split_part(c->>'seq', '-', 1) AS BIGINT) DESC) = 1
)
SELECT id, doc FROM latest WHERE NOT deleted
"""

# One golden object per live person doc, keys in the warehouse's column
# order: arrays as compact JSON text, booleans as 0/1 (the SQLite shape).
PERSON_ROWS = f"""
SELECT json_object(
  'name', doc->'name', 'age', doc->'age',
  'verified', CAST(CAST(doc->>'verified' AS BOOLEAN) AS INTEGER),
  'description', doc->'description',
  'tags', to_json(CAST(doc->'tags' AS VARCHAR[]))::VARCHAR,
  'id', id, 'rev', doc->'_rev',
  'address_street', doc->'address'->'street',
  'address_location_long', doc->'address'->'location'->'long',
  'address_location_lat', doc->'address'->'location'->'lat')
FROM ({LWW}) ORDER BY id
"""


def token(rng, n):
    return "".join(rng.choice(ALNUM) for _ in range(n))


def rev(rng, gen=1):
    return f"{gen}-" + "".join(rng.choice("0123456789abcdef") for _ in range(32))


def change(rng, seq, doc, deleted=False):
    c = {"seq": f"{seq}-g1AAAA{token(rng, 40)}", "id": doc["_id"],
         "changes": [{"rev": doc["_rev"]}]}
    if deleted:
        c["deleted"] = True
    c["doc"] = doc
    return c


def write_feed(path, changes):
    """The CouchDB wire shape: one change per line inside the envelope."""
    lines = [json.dumps(c, separators=(",", ":")) for c in changes]
    with open(path, "w", encoding="utf-8") as f:
        f.write('{"results":[\n' + ",\n".join(lines) + "\n],\n")
        f.write('"last_seq":' + json.dumps(changes[-1]["seq"]) + ',"pending":0}\n')


def person(rng, name, _id=None, age=None, verified=None):
    return {
        "_id": _id or token(rng, 32),
        "_rev": rev(rng),
        "name": name,
        "age": age if age is not None else rng.randint(18, 99),
        "verified": verified if verified is not None else rng.random() < 0.5,
        "description": " ".join(rng.choice(WORDS) for _ in range(rng.randint(6, 14))).capitalize() + ".",
        "tags": rng.sample(TAGS, rng.randint(1, 4)),
        "address": {
            "street": f"{rng.randint(1, 300)} {rng.choice(STREETS)} {rng.choice(SUFFIXES)}",
            "location": {"long": round(rng.uniform(-10.0, 2.0), 6),
                         "lat": round(rng.uniform(49.0, 59.0), 6)},
        },
    }


def person_feed(rng):
    names = rng.sample([f"{a} {b}" for a in FIRST for b in LAST], 97)
    docs = [person(rng, GARFIELD["name"], _id=GARFIELD["_id"], age=GARFIELD["age"]),
            person(rng, KRISTY["name"], age=KRISTY["age"], verified=KRISTY["verified"])]
    docs += [person(rng, n) for n in names]
    rng.shuffle(docs)
    # 100 seqs in 1..104: three gaps below 101, then two of 101-103 and 104.
    seqs = sorted(rng.sample(range(1, 101), 97) + rng.sample(range(101, 104), 2) + [104])
    gone = {"_id": token(rng, 32), "_rev": rev(rng, 2), "_deleted": True}
    at = rng.randrange(10, 90)
    docs.insert(at, gone)
    return [change(rng, s, d, deleted=d is gone) for s, d in zip(seqs, docs)]


def typed_feed(rng):
    products = [{"_id": token(rng, 32), "_rev": rev(rng), "type": "product",
                 "name": f"{rng.choice(['Deluxe', 'Compact', 'Classic', 'Pro'])} {p}",
                 "price": round(rng.uniform(2, 80), 2), "stock": rng.randint(0, 500)}
                for p in PRODUCTS * 2]
    users = [{"_id": token(rng, 32), "_rev": rev(rng), "type": "user",
              "name": n, "email": n.lower().replace(" ", ".") + "@example.com"}
             for n in rng.sample([f"{a} {b}" for a in FIRST for b in LAST], 10)]
    orders = []
    for _ in range(200):
        basket = [{"productId": p["_id"], "name": p["name"], "price": p["price"],
                   "quantity": rng.randint(1, 5)}
                  for p in rng.sample(products, rng.randint(1, 4))]
        orders.append({"_id": token(rng, 32), "_rev": rev(rng), "type": "order",
                       "customerId": rng.choice(users)["_id"],
                       "saleDate": f"2019-{rng.randint(1, 12):02d}-{rng.randint(1, 28):02d}",
                       "basket": basket,
                       "total": round(sum(b["price"] * b["quantity"] for b in basket), 2)})
    # catalogue and customers first, as a shop's database would fill up
    docs = products + users
    rng.shuffle(docs)
    docs += orders
    return [change(rng, i + 1, d) for i, d in enumerate(docs)]


def evolve_feed(rng):
    late = set(rng.sample(range(1, 30), 10))  # the first doc keeps the field
    docs = []
    for i in range(30):
        d = {"_id": token(rng, 32), "_rev": rev(rng), "type": "order",
             "customerId": token(rng, 32),
             "saleDate": f"2019-{rng.randint(1, 12):02d}-{rng.randint(1, 28):02d}",
             "total": round(rng.uniform(5, 250), 2)}
        if i not in late:
            d["dispatchCourierRef"] = f"{rng.choice(COURIERS)}{rng.randint(100000, 999999)}"
        docs.append(d)
    return [change(rng, i + 1, d) for i, d in enumerate(docs)]


def generate(out):
    rng = random.Random(SEED)
    os.makedirs(out, exist_ok=True)
    paths = {f: os.path.join(out, f) for f in FILES}
    write_feed(paths["samplechanges.txt"], person_feed(rng))
    write_feed(paths["samplechanges2.txt"], typed_feed(rng))
    write_feed(paths["samplechanges3.txt"], evolve_feed(rng))

    con = duckdb.connect()
    person_path = paths["samplechanges.txt"]
    rows = [json.loads(r[0]) for r in con.execute(PERSON_ROWS, [person_path]).fetchall()]
    with open(paths["samplequery.json"], "w", encoding="utf-8") as f:
        f.write(json.dumps(rows, indent=1) + "\n")

    counts = {
        "person_seqs": con.execute(
            "SELECT count(*), count(*) FILTER (WHERE n > 100), max(n) FROM (SELECT"
            " CAST(split_part(unnest(results)->>'seq', '-', 1) AS BIGINT) AS n"
            " FROM read_json(?, columns = {results: 'JSON[]'}))", [person_path]).fetchone(),
        "person_rows": len(rows),
        "types": dict(con.execute(
            f"SELECT doc->>'type', count(*) FROM ({LWW}) GROUP BY 1 ORDER BY 1",
            [paths["samplechanges2.txt"]]).fetchall()),
        "evolve": con.execute(
            f"SELECT count(*), count(*) FILTER (WHERE (doc->'dispatchCourierRef') IS NULL) FROM ({LWW})",
            [paths["samplechanges3.txt"]]).fetchone(),
        "dsv2_selected": con.execute(
            f"SELECT count(*) FROM ({LWW})"
            " WHERE CAST(doc->>'age' AS DOUBLE) >= 90 AND CAST(doc->>'verified' AS BOOLEAN)",
            [person_path]).fetchone()[0],
    }
    assert counts["person_seqs"] == (100, 3, 104), counts
    assert counts["person_rows"] == 99, counts
    assert counts["types"] == {"order": 200, "product": 20, "user": 10}, counts
    assert counts["evolve"] == (30, 10), counts
    assert counts["dsv2_selected"] > 0, counts
    ages = [r["age"] for r in rows]
    assert min(ages) <= 30 and max(ages) > 50, ages
    assert [r["name"] for r in rows].count(KRISTY["name"]) == 1
    assert all(not r["id"].startswith("zzz") for r in rows)
    return counts


def check():
    with tempfile.TemporaryDirectory() as tmp:
        counts = generate(tmp)
        stale = [f for f in FILES
                 if not os.path.exists(os.path.join(OUT, f))
                 or not filecmp.cmp(os.path.join(tmp, f), os.path.join(OUT, f), shallow=False)]
    if stale:
        sys.exit(f"stale fixtures (re-run without --check): {', '.join(stale)}")
    return counts


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--check", action="store_true",
                    help="regenerate into a temp dir and byte-compare with the committed files")
    args = ap.parse_args()
    counts = check() if args.check else generate(OUT)
    print(json.dumps(counts))


if __name__ == "__main__":
    main()
