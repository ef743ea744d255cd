"""Seeded CouchDB changes-feed generator with its own bookkeeping.

The generator writes spool chunks in the CouchDB `_changes` envelope
(`{"results":[` / one change per line / `],"last_seq":...}`), the shape
`graft.sources.ChangesSpooler` writes and the `couch-changes` reader scans.
While it writes, it keeps the expected warehouse state by itself: live rows
per type, a last-writer-wins checksum per type, deleted and design ids and
the last sequence number. The benchmark's output checks come from this
bookkeeping, never from graft's output.

The feed has three doc types split on `type`, nested objects, arrays,
creates, updates, deletes, design docs and a late-appearing field
(`late_flag`) that the first-doc-wins schema must not turn into a column.
"""

import json
import os
import random
import zlib

TYPES = ("user", "order", "product")
TYPE_OF_PREFIX = {t[0]: t for t in TYPES}  # ids start with their type's initial
LATE_FIELD = "late_flag"
CITIES = ("Oslo", "Lima", "Pune", "Kyiv", "Gent", "Nara", "Bern", "Cali")
COLORS = ("red", "green", "blue", "black", "white")


def checksum(doc_id, v):
    """One live row's share of the per-type LWW checksum; the JVM side
    computes the same sum as `sum(crc32(concat(id, ':', v)))`."""
    return zlib.crc32(f"{doc_id}:{v}".encode())


class Feed:
    """A changes feed under construction plus the state it implies."""

    def __init__(self, seed, late_after):
        self.rng = random.Random(seed)
        self.seq = 0
        self.late_after = late_after
        self.live = {}        # id -> (type, v)
        self.live_ids = []    # ids, for uniform choice; may hold dead ids
        self.deleted = []
        self.design = []
        self.counts = {t: 0 for t in TYPES}
        self.sums = {t: 0 for t in TYPES}

    def _seq(self):
        self.seq += 1
        return f"{self.seq}-g1AAAA{self.rng.getrandbits(40):010x}"

    def _rev(self, v):
        return f"{v}-{self.rng.getrandbits(64):016x}"

    def _body(self, doc_id, t, v):
        r = self.rng
        if t == "user":
            doc = {"type": t, "name": f"n{r.getrandbits(24):06x}",
                   "age": r.randint(18, 90), "active": r.random() < 0.7,
                   "v": v,
                   "address": {"city": r.choice(CITIES),
                               "geo": {"lat": round(r.uniform(-90, 90), 4),
                                       "lon": round(r.uniform(-180, 180), 4)}},
                   "tags": [r.choice(COLORS) for _ in range(r.randint(0, 3))]}
        elif t == "order":
            doc = {"type": t, "customer": f"u{r.getrandbits(32):08x}",
                   "total": round(r.uniform(1, 500), 2), "v": v,
                   "items": [{"sku": f"s{r.randint(1, 999)}", "qty": r.randint(1, 5)}
                             for _ in range(r.randint(1, 3))],
                   "shipping": {"method": r.choice(("air", "sea", "road")),
                                "days": r.randint(1, 30)}}
        else:
            doc = {"type": t, "sku": f"s{r.randint(1, 999)}",
                   "price": round(r.uniform(1, 99), 2), "stock": r.randint(0, 500),
                   "v": v, "dims": {"w": r.randint(1, 50), "h": r.randint(1, 50)},
                   "colors": [r.choice(COLORS) for _ in range(r.randint(1, 2))]}
        if self.seq + 1 > self.late_after:  # the seq this change will carry
            doc[LATE_FIELD] = r.random() < 0.5
        return {"_id": doc_id, "_rev": self._rev(v), **doc}

    def _change(self, doc_id, rev, doc, deleted=False):
        c = {"seq": self._seq(), "id": doc_id, "changes": [{"rev": rev}]}
        if deleted:
            c["deleted"] = True
        c["doc"] = doc
        return json.dumps(c, separators=(",", ":"))

    def create(self, t=None):
        t = t or self.rng.choice(TYPES)
        doc_id = f"{t[0]}{self.rng.getrandbits(48):012x}"
        while doc_id in self.live:
            doc_id = f"{t[0]}{self.rng.getrandbits(48):012x}"
        line = self._write(doc_id, t, 1)
        self.live[doc_id] = (t, 1)
        self.live_ids.append(doc_id)
        self.counts[t] += 1
        self.sums[t] += checksum(doc_id, 1)
        return doc_id, line

    def _write(self, doc_id, t, v):
        doc = self._body(doc_id, t, v)
        return self._change(doc_id, doc["_rev"], doc)

    def _pick_live(self):
        while True:
            i = self.rng.randrange(len(self.live_ids))
            doc_id = self.live_ids[i]
            if doc_id in self.live:
                return doc_id
            self.live_ids[i] = self.live_ids[-1]
            self.live_ids.pop()

    def update(self):
        doc_id = self._pick_live()
        t, v = self.live[doc_id]
        line = self._write(doc_id, t, v + 1)
        self.live[doc_id] = (t, v + 1)
        self.sums[t] += checksum(doc_id, v + 1) - checksum(doc_id, v)
        return doc_id, line

    def delete(self):
        doc_id = self._pick_live()
        t, v = self.live.pop(doc_id)
        rev = self._rev(v + 1)
        line = self._change(doc_id, rev, {"_id": doc_id, "_rev": rev, "_deleted": True},
                            deleted=True)
        self.deleted.append(doc_id)
        self.counts[t] -= 1
        self.sums[t] -= checksum(doc_id, v)
        return doc_id, line

    def design_doc(self):
        doc_id = f"_design/d{len(self.design)}"
        rev = self._rev(1)
        doc = {"_id": doc_id, "_rev": rev,
               "views": {"by_type": {"map": "function(d){emit(d.type,1)}"}}}
        self.design.append(doc_id)
        return doc_id, self._change(doc_id, rev, doc)

    def mixed(self, n, update_share, delete_share, design_every=0):
        """n changes: creates, then a mix in which each change is an update
        or delete with the given shares (creates otherwise)."""
        lines = []
        for i in range(n):
            if design_every and i % design_every == design_every // 2:
                lines.append(self.design_doc()[1])
                continue
            x = self.rng.random()
            if self.live and x < delete_share:
                lines.append(self.delete()[1])
            elif self.live and x < delete_share + update_share:
                lines.append(self.update()[1])
            else:
                lines.append(self.create()[1])
        return lines

    def state(self):
        return {"counts": dict(self.counts), "sums": dict(self.sums),
                "last_seq": self.seq}


def write_chunk(path, lines, last_seq):
    body = ('{"results":[\n' + ",\n".join(lines) +
            f'\n],\n"last_seq":"{last_seq}-g1AAAA","pending":0}}\n')
    with open(path, "w") as f:
        f.write(body)
    return len(body.encode())


def write_chunks(dir_, lines, chunk, first_index, last_seq):
    os.makedirs(dir_, exist_ok=True)
    total = 0
    for k in range(0, len(lines), chunk):
        total += write_chunk(os.path.join(dir_, f"chunk-{first_index + k // chunk:06d}.json"),
                             lines[k:k + chunk], last_seq)
    return total


def gen_ingest(out, seed, changes, chunk):
    """One spool of `changes` changes: 20% updates, 2% deletes, design docs."""
    feed = Feed(seed, late_after=changes // 20)
    lines = feed.mixed(changes, update_share=0.20, delete_share=0.02,
                       design_every=changes // 5)
    spool = os.path.join(out, "spool")
    nbytes = write_chunks(spool, lines, chunk, 0, feed.seq)
    probe = next(iter(feed.live))
    return {"spool": spool, "changes": len(lines), "chunk": chunk, "spool_bytes": nbytes,
            "probe": {"id": probe, "type": feed.live[probe][0]},
            "deleted_sample": feed.deleted[:100], "design": feed.design,
            "late_field": LATE_FIELD, "expect": feed.state()}


def gen_sync(out, seed, base_docs, chunk, syncs, per_sync):
    """A base warehouse of `base_docs` creates (plus design docs), then
    `syncs` chunks of `per_sync` changes each: deletes first, then
    creates, then updates, so the first delete and first create (the ids
    the per-sync check follows) stay deleted and live. Chunk 0 is the
    set-up warm-up sync."""
    feed = Feed(seed, late_after=base_docs // 20)
    lines = feed.mixed(base_docs, update_share=0.0, delete_share=0.0,
                       design_every=base_docs // 5)
    base = os.path.join(out, "base")
    write_chunks(base, lines, chunk, 0, feed.seq)
    sync_dir = os.path.join(out, "sync")
    os.makedirs(sync_dir, exist_ok=True)
    n_create = max(1, per_sync * 18 // 100) if per_sync >= 100 else 1
    n_delete = max(1, per_sync // 50)
    chunks = []
    for k in range(syncs):
        deleted, first = feed.delete()
        body = [first] + [feed.delete()[1] for _ in range(n_delete - 1)]
        created, line = feed.create()
        body += [line] + [feed.create()[1] for _ in range(n_create - 1)]
        while len(body) < per_sync:
            body.append(feed.update()[1])
        name = f"chunk-{100000 + k:06d}.json"
        nbytes = write_chunk(os.path.join(sync_dir, name), body, feed.seq)
        chunks.append({"file": name, "changes": len(body), "bytes": nbytes,
                       "created": created, "created_type": feed.live[created][0],
                       "created_v": feed.live[created][1],
                       "deleted": deleted, "deleted_type": TYPE_OF_PREFIX[deleted[0]],
                       "expect": feed.state()})
    return {"base": base, "base_docs": base_docs, "sync_dir": sync_dir,
            "chunks": chunks, "late_field": LATE_FIELD}
