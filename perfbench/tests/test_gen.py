"""Checks the generator's bookkeeping against a DuckDB last-writer-wins
query run straight on the generated spool chunks, at a small size.

    python3 -m pytest perfbench/tests
"""

import os
import sys
import zlib

import duckdb
import pytest

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), ".."))
import gen  # noqa: E402

LWW = """
WITH lines AS (
  SELECT unnest(string_split(content, chr(10))) AS line FROM read_text(?)
), changes AS (
  SELECT CAST(rtrim(line, ',') AS JSON) AS c FROM lines WHERE starts_with(line, '{"seq"')
), parsed AS (
  SELECT c->>'id' AS id,
         CAST(split_part(c->>'seq', '-', 1) AS BIGINT) AS seqnum,
         coalesce(CAST(c->>'deleted' AS BOOLEAN), false) AS deleted,
         c->'doc'->>'type' AS type,
         CAST(c->'doc'->>'v' AS BIGINT) AS v,
         json_keys(c->'doc') AS keys
  FROM changes
)
SELECT id, seqnum, deleted, type, v, keys FROM parsed
QUALIFY row_number() OVER (PARTITION BY id ORDER BY seqnum DESC) = 1
"""


def oracle(files):
    """Live rows per id after last-writer-wins, plus the max seq seen."""
    rows = duckdb.execute(LWW, [files]).fetchall()
    live = [r for r in rows if not r[2] and not r[0].startswith("_design")]
    counts = {t: 0 for t in gen.TYPES}
    sums = {t: 0 for t in gen.TYPES}
    for doc_id, _, _, t, v, _ in live:
        counts[t] += 1
        sums[t] += zlib.crc32(f"{doc_id}:{v}".encode())
    last_seq = max(r[1] for r in rows)
    return {"counts": counts, "sums": sums, "last_seq": last_seq}, rows


def test_ingest_bookkeeping_matches_duckdb(tmp_path):
    g = gen.gen_ingest(str(tmp_path), seed=7, changes=3000, chunk=500)
    assert len(os.listdir(g["spool"])) == 6
    want, rows = oracle(os.path.join(g["spool"], "*.json"))
    assert g["expect"] == want
    by_id = {r[0]: r for r in rows}
    assert g["design"] and all(d in by_id for d in g["design"])
    assert all(by_id[d][2] for d in g["deleted_sample"])
    # the late field is absent from each type's first doc, present later
    first = {}
    for r in sorted(rows, key=lambda r: r[1]):
        if r[3] and r[3] not in first and not r[2]:
            first[r[3]] = r
    assert all(gen.LATE_FIELD not in r[5] for r in first.values())
    assert any(gen.LATE_FIELD in (r[5] or []) for r in rows)


@pytest.mark.parametrize("per_sync", [10, 200])
def test_sync_bookkeeping_matches_duckdb(tmp_path, per_sync):
    g = gen.gen_sync(str(tmp_path), seed=11, base_docs=1000, chunk=400, syncs=4,
                     per_sync=per_sync)
    for k, ch in enumerate(g["chunks"]):
        files = [os.path.join(g["base"], f) for f in sorted(os.listdir(g["base"]))]
        files += [os.path.join(g["sync_dir"], c["file"]) for c in g["chunks"][:k + 1]]
        want, rows = oracle(files)
        assert ch["expect"] == want
        assert ch["changes"] == per_sync
        latest = {r[0]: r for r in rows}
        assert latest[ch["created"]][4] == ch["created_v"] and not latest[ch["created"]][2]
        assert latest[ch["deleted"]][2] and ch["deleted_type"] in gen.TYPES


def test_same_seed_same_feed(tmp_path):
    a = gen.gen_ingest(str(tmp_path / "a"), seed=3, changes=800, chunk=300)
    b = gen.gen_ingest(str(tmp_path / "b"), seed=3, changes=800, chunk=300)
    for name in sorted(os.listdir(a["spool"])):
        with open(os.path.join(a["spool"], name)) as fa, open(os.path.join(b["spool"], name)) as fb:
            assert fa.read() == fb.read()
