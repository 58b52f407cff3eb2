"""Seeded input generator for the benchmark.

Every input is derived from the tables in `perfbench/base/` (a copy of the
sf0.01 star schema plus its document and embedding corpus) and from the seed:

- tables: a seed-chosen subset of customers (their orders and line items
  follow, so referential integrity holds), of events, of documents and of
  embeddings, all at fixed counts so run time does not depend on the seed.
  The kept embeddings are renumbered 0..n-1 in vec_id order, because the
  k-means oracles seed their centroids with `vec_id < k` and so assume the
  base table's dense ids;
- finding aids (EAD XML) whose `<dao>` links cover every status the harvest
  dispatches on, and PNG page images for the components that harvest;
- the nightly re-run's input: the same finding aids with NEW_SHARE new
  components each, and their page images.

The same seed always gives byte-identical inputs. Usage:
    python3 perfbench/inputs.py <out_dir> <seed>
"""
import glob
import hashlib
import json
import os
import random
import shutil
import struct
import sys
import zlib

HERE = os.path.dirname(os.path.abspath(__file__))
BASE = os.path.join(HERE, "base")

# Fixed input sizes: the seed picks WHICH keys, never how many.
SIZES = {
    "customers": 1200,          # of 1500 in the base
    "events": 8000,             # of 10000
    "documents": 150,           # of 500
    "embeddings": 400,          # of 500
    "finding_aids": 1,
    "components_per_aid": 12,   # before the nightly re-run's new ones
    "new_share": 0.25,          # new components per finding aid, re-run
    "pages": 1,                 # per harvested component, ingest
    "new_pages": 2,             # per new component, nightly re-run
    "page_width": 340,
    "page_height": 440,
}
# Status mix of a finding aid's dao links (share of components): the
# harvest keeps 200s, dead-letters 401/404, and F1 excludes the rest.
LINK_KINDS = [("docs", 0.70), ("auth", 0.08), ("missing", 0.08),
              ("accessions", 0.07), ("suppressed", 0.07)]

# Host of every generated dao link; the benchmark's fetcher routes it to the
# loopback server it runs.
LOOPBACK = "http://finding-aids.bench"

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def generator_hash():
    """Identity of this generator and its base data; part of the cache key."""
    h = hashlib.sha256()
    h.update(open(__file__, "rb").read())
    for t in TABLES:
        h.update(open(os.path.join(BASE, t + ".parquet"), "rb").read())
    return h.hexdigest()[:16]


def _tables(con, out, seed):
    def src(t):
        return f"read_parquet('{BASE}/{t}.parquet')"

    def pick(key):
        return f"md5('{seed}:' || CAST({key} AS VARCHAR))"

    def copy(name, sql):
        con.execute(f"COPY ({sql}) TO '{out}/{name}.parquet' (FORMAT PARQUET)")

    for t in ["region", "nation", "supplier", "part"]:
        copy(t, f"SELECT * FROM {src(t)}")
    con.execute(f"""CREATE TEMP TABLE keep_c AS SELECT c_custkey FROM {src('customer')}
                    ORDER BY {pick('c_custkey')} LIMIT {SIZES['customers']}""")
    copy("customer", f"""SELECT * FROM {src('customer')}
         WHERE c_custkey IN (SELECT c_custkey FROM keep_c) ORDER BY c_custkey""")
    con.execute(f"""CREATE TEMP TABLE keep_o AS SELECT o_orderkey FROM {src('orders')}
                    WHERE o_custkey IN (SELECT c_custkey FROM keep_c)""")
    copy("orders", f"""SELECT * FROM {src('orders')}
         WHERE o_orderkey IN (SELECT o_orderkey FROM keep_o) ORDER BY o_orderkey""")
    copy("lineitem", f"""SELECT * FROM {src('lineitem')}
         WHERE l_orderkey IN (SELECT o_orderkey FROM keep_o)
         ORDER BY l_orderkey, l_linenumber""")
    copy("events", f"""SELECT * FROM (SELECT * FROM {src('events')}
         ORDER BY {pick('event_id')} LIMIT {SIZES['events']}) ORDER BY event_id""")
    copy("embeddings", f"""SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS BIGINT)
         AS vec_id, embedding, label FROM (SELECT * FROM {src('embeddings')}
         ORDER BY {pick('vec_id')} LIMIT {SIZES['embeddings']}) ORDER BY vec_id""")
    copy("documents", f"""SELECT * FROM (SELECT * FROM {src('documents')}
         ORDER BY {pick('doc_id')} LIMIT {SIZES['documents']}) ORDER BY doc_id""")


def _png(width, height, rng):
    """A seeded 'scanned page': white paper, dark word runs on text lines."""
    white = b"\xf4\xf2\xec" * width
    rows = [bytearray(white) for _ in range(height)]
    margin, line_h, gap = width // 12, 6, 6
    y = margin
    while y + line_h < height - margin:
        x, end = margin, width - margin - rng.randrange(0, width // 4)
        while x < end:
            w = rng.randrange(6, 40)
            ink = bytes((rng.randrange(10, 60),) * 3) * min(w, end - x)
            for r in range(y + 1, y + line_h - 1):
                rows[r][3 * x:3 * x + len(ink)] = ink
            x += w + rng.randrange(4, 9)
        y += line_h + gap
    raw = b"".join(b"\x00" + bytes(r) for r in rows)

    def chunk(tag, data):
        return (struct.pack(">I", len(data)) + tag + data
                + struct.pack(">I", zlib.crc32(tag + data) & 0xffffffff))
    return (b"\x89PNG\r\n\x1a\n"
            + chunk(b"IHDR", struct.pack(">IIBBBBB", width, height, 8, 2, 0, 0, 0))
            + chunk(b"IDAT", zlib.compress(raw, 6)) + chunk(b"IEND", b""))


def _ead(aid, comps):
    cs = []
    for c in comps:
        attrs = f'xlink:href="{c["href"]}"' + (' xlink:show="none"' if c["show"] else "")
        cs.append(f'<c id="{c["id"]}" level="file"><did><unittitle>{c["title"]}'
                  f'</unittitle><dao {attrs}/></did></c>')
    return (f'<?xml version="1.0" encoding="UTF-8"?>\n<ead xmlns:xlink="http://www.w3.org/1999/xlink"><eadheader><eadid>{aid}'
            f'</eadid></eadheader><archdesc level="collection"><dsc>'
            f'<c id="{aid}_series" level="series"><did><unittitle>Series of {aid}'
            f'</unittitle></did>{"".join(cs)}</c></dsc></archdesc></ead>\n')


def _digitize(out, seed):
    """Finding aids, image store and server manifest for `digitize`."""
    rng = random.Random(f"digitize:{seed}")
    kinds = [k for k, share in LINK_KINDS
             for _ in range(int(round(share * SIZES["components_per_aid"])))]
    n_new = int(round(SIZES["components_per_aid"] * SIZES["new_share"]))
    manifest = {"aids": [], "pages": 0, "new_pages": 0,
                "page_width": SIZES["page_width"], "page_height": SIZES["page_height"]}
    for a in range(SIZES["finding_aids"]):
        aid = f"C{a:04d}"
        comps = []
        for i in range(SIZES["components_per_aid"] + n_new):
            new = i >= SIZES["components_per_aid"]
            kind = "docs" if new else kinds[i % len(kinds)]
            pages = 0 if kind != "docs" else SIZES["new_pages"] if new else SIZES["pages"]
            cid = f"{aid}_c{i:04d}"
            host = {"accessions": "Accessions", "suppressed": "docs"}.get(kind, kind)
            comps.append({"id": cid, "kind": kind, "new": new, "pages": pages,
                          "href": f"{LOOPBACK}/{host}/{cid}.pdf",
                          "show": kind == "suppressed",
                          "title": f"Folder {i + 1} of {aid}"})
        rng.shuffle(comps)
        old = [c for c in comps if not c["new"]]
        for name, cs in (("ead", old), ("ead_rerun", comps)):
            os.makedirs(f"{out}/{name}", exist_ok=True)
            with open(f"{out}/{name}/{aid}.xml", "w") as f:
                f.write(_ead(aid, cs))
        for c in comps:
            for p in range(1, c["pages"] + 1):
                d = f"{out}/images/{aid}/{c['id']}"
                os.makedirs(d, exist_ok=True)
                png = _png(SIZES["page_width"], SIZES["page_height"],
                           random.Random(f"page:{seed}:{c['id']}:{p}"))
                with open(f"{d}/{p:08d}.png", "wb") as f:
                    f.write(png)
                manifest["new_pages" if c["new"] else "pages"] += 1
        manifest["aids"].append({"id": aid, "components": [
            {k: c[k] for k in ("id", "kind", "new", "pages")} for c in comps]})
    with open(f"{out}/digitize.json", "w") as f:
        json.dump(manifest, f)
    return {k: manifest[k] for k in ("pages", "new_pages")}


def _workload_sizes(out):
    """Per workload, the items one pass carries (behind `items_per_s`) and
    the bytes of its input (behind `write_amp`)."""
    import duckdb
    con = duckdb.connect()

    tables = [f"{out}/tables/{t}.parquet" for t in TABLES]
    manifest = json.load(open(f"{out}/digitize.json"))
    fresh = [(a["id"], c["id"]) for a in manifest["aids"] for c in a["components"]
             if c["new"] and c["pages"]]
    night = [f for aid, cid in fresh for f in glob.glob(f"{out}/images/{aid}/{cid}/*")]
    night += glob.glob(f"{out}/ead_rerun/*")
    return {"query": {"items": sum(con.execute(f"SELECT count(*) FROM '{p}'").fetchone()[0]
                                   for p in tables),
                      "input_bytes": sum(os.path.getsize(p) for p in tables)},
            "digitize": {"items": manifest["new_pages"],
                         "input_bytes": sum(os.path.getsize(f) for f in night)}}


def generate(out, seed):
    """Write the inputs for `seed` under `out` (once; reused when present)."""
    done = os.path.join(out, "_DONE")
    if os.path.exists(done):
        return json.load(open(done))
    import duckdb
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(f"{tmp}/tables")
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    info = {"seed": seed, "generator": generator_hash(), "sizes": SIZES}
    _tables(con, f"{tmp}/tables", seed)
    con.close()
    info.update(_digitize(tmp, seed))
    info["workloads"] = _workload_sizes(tmp)
    with open(f"{tmp}/_DONE", "w") as f:
        json.dump(info, f)
    shutil.rmtree(out, ignore_errors=True)
    os.rename(tmp, out)
    return info


if __name__ == "__main__":
    print(json.dumps(generate(sys.argv[1], int(sys.argv[2]))))
