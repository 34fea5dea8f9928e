"""Seeded input generator for the graft benchmark.

Every input is cut from the library's sf0.01 test extract, of which the
benchmark keeps its own copy under perfbench/data/sf0.01 (a benchmark
run reads nothing outside its checkout). The seed chooses which rows go
where; the same (workload, seed) always produces byte-identical files.

refresh_serve
    extract/<table>.parquet/   the base extract: the sf0.01 tables minus
                               the orders (and their lines) of
                               seed-chosen held-out months, 1/20 of all
                               orders
    waves/wNNN/<table>.parquet one landing wave each: one held-out month
                               of orders and lines, re-keyed and re-dated
                               into the month after the last one loaded,
                               plus price rises for seed-chosen parts
    truth/                     the same rows as plain text, for the
                               benchmark's own recompute

dedup_ingest
    seed/documents.parquet     a seed-chosen 80% of the sf0.01 documents,
                               pre-loaded into the index
    waves/wNNN.parquet         one arrival file per ingest wave, 2% of the
                               documents each

Run directly to generate into a directory:
    python3 perfbench/gen.py --workload refresh_serve --seed 1 --out DIR
"""
import argparse
import datetime as dt
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

DATA = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data", "sf0.01")
RETAIL_TABLES = ["region", "nation", "customer", "supplier", "part", "orders", "lineitem"]

# refresh_serve: 1/20 of the orders are held out, as whole source months;
# each held-out month becomes one wave (about 1.25% of the orders)
HOLDOUT_FRAC = 1 / 20
PRICE_CHANGES_PER_WAVE = 20  # 1% of the parts
WAVE_KEY_STRIDE = 10_000_000

# dedup_ingest
SEED_FRAC = 0.80
WAVE_FRAC = 0.02
EPOCH = dt.date(1970, 1, 1)
US_PER_DAY = 86_400_000_000


def _read(name):
    return pq.read_table(os.path.join(DATA, f"{name}.parquet")).replace_schema_metadata(None)


def _write(table, path):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path, compression="snappy")
    return {"path": path, "rows": table.num_rows,
            "mb": round(os.path.getsize(path) / 1e6, 6)}


def _days(col):
    """timestamp[us] column -> int64 day numbers since 1970-01-01."""
    return col.cast(pa.int64()).to_numpy() // US_PER_DAY


def _month_index(days):
    """Day numbers -> months since January 1970."""
    ds = [EPOCH + dt.timedelta(int(d)) for d in days]
    return np.array([d.year * 12 + d.month - 1 for d in ds], dtype="int64")


def _month_start(m):
    return dt.date(m // 12, m % 12 + 1, 1)


def _epoch_day(d):
    return (d - EPOCH).days


def _tsv(path, *cols):
    """The same values as plain text, for the benchmark's own recompute."""
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as fh:
        for row in zip(*cols):
            fh.write("\t".join(str(x) for x in row) + "\n")


def _truth(d, orders, lineitem):
    _tsv(os.path.join(d, "orders.tsv"), orders["o_orderkey"].to_pylist(),
         orders["o_custkey"].to_pylist(), _days(orders["o_orderdate"]).tolist())
    _tsv(os.path.join(d, "lines.tsv"), lineitem["l_orderkey"].to_pylist(),
         lineitem["l_partkey"].to_pylist(), lineitem["l_quantity"].to_pylist())


def _set(table, name, values):
    i = table.schema.get_field_index(name)
    return table.set_column(i, table.schema.field(i), pa.array(values, table.schema.field(i).type))


def gen_refresh_serve(out, rng):
    t = {name: _read(name) for name in RETAIL_TABLES}
    orders, lineitem, part = t["orders"], t["lineitem"], t["part"]
    omonth = _month_index(_days(orders["o_orderdate"]))
    months = np.unique(omonth)
    # held-out months: any but the last, so the base keeps its watermark
    n_held = max(1, round(len(months) * HOLDOUT_FRAC))
    held = rng.choice(months[:-1], n_held, replace=False)
    held_mask = np.isin(omonth, held)
    held_keys = orders.filter(pa.array(held_mask))["o_orderkey"]
    line_held = pc.is_in(lineitem["l_orderkey"], value_set=held_keys).to_numpy(
        zero_copy_only=False)
    base_orders = orders.filter(pa.array(~held_mask))
    base_lines = lineitem.filter(pa.array(~line_held))

    files = []
    ex = os.path.join(out, "extract")
    for name in RETAIL_TABLES:
        tab = {"orders": base_orders, "lineitem": base_lines}.get(name, t[name])
        files.append(_write(tab, os.path.join(ex, f"{name}.parquet", "part-base.parquet")))

    truth = os.path.join(out, "truth")
    _truth(os.path.join(truth, "base"), base_orders, base_lines)
    prices = part["p_retailprice"].to_numpy().copy()
    pkeys = part["p_partkey"].to_numpy()
    _tsv(os.path.join(truth, "base", "parts.tsv"), pkeys.tolist(),
         part["p_type"].to_pylist(), prices.tolist())
    nation = {k: (n, r) for k, n, r in zip(t["nation"]["n_nationkey"].to_pylist(),
                                            t["nation"]["n_name"].to_pylist(),
                                            t["nation"]["n_regionkey"].to_pylist())}
    region = dict(zip(t["region"]["r_regionkey"].to_pylist(), t["region"]["r_name"].to_pylist()))
    cust = t["customer"]
    _tsv(os.path.join(truth, "customers.tsv"), cust["c_custkey"].to_pylist(),
         cust["c_mktsegment"].to_pylist(),
         [region[nation[n][1]] for n in cust["c_nationkey"].to_pylist()],
         [nation[n][0] for n in cust["c_nationkey"].to_pylist()])

    last = int(months[-1])
    waves = []
    for w, src in enumerate(held.tolist(), start=1):
        dst = last + w
        o = orders.filter(pa.array(omonth == src))
        li = lineitem.filter(pc.is_in(lineitem["l_orderkey"], value_set=o["o_orderkey"]))
        # same day of month in month dst, clamped to its length
        dst0 = _epoch_day(_month_start(dst))
        dst_len = _epoch_day(_month_start(dst + 1)) - dst0
        old_day = _days(o["o_orderdate"])
        new_day = np.minimum(dst0 + old_day - _epoch_day(_month_start(src)), dst0 + dst_len - 1)
        delta = dict(zip(o["o_orderkey"].to_pylist(), (new_day - old_day).tolist()))
        ship = _days(li["l_shipdate"]) + np.array(
            [delta[k] for k in li["l_orderkey"].to_pylist()], dtype="int64")
        o = _set(o, "o_orderdate", new_day * US_PER_DAY)
        o = _set(o, "o_orderkey", o["o_orderkey"].to_numpy() + WAVE_KEY_STRIDE * w)
        li = _set(li, "l_shipdate", ship * US_PER_DAY)
        li = _set(li, "l_orderkey", li["l_orderkey"].to_numpy() + WAVE_KEY_STRIDE * w)
        # strictly rising prices: the staging layer keeps every
        # (key, price) row and the SCD2 source picks the highest
        changed = np.sort(rng.choice(len(pkeys), PRICE_CHANGES_PER_WAVE, replace=False))
        prices[changed] = np.round(prices[changed] + rng.integers(1, 500, len(changed)) / 10.0, 2)
        ptab = _set(part.take(pa.array(changed)), "p_retailprice", prices[changed])
        _truth(os.path.join(truth, f"w{w:03d}"), o, li)
        _tsv(os.path.join(truth, f"w{w:03d}", "parts.tsv"), pkeys[changed].tolist(),
             ptab["p_type"].to_pylist(), prices[changed].tolist())
        wd = os.path.join(out, "waves", f"w{w:03d}")
        files += [_write(o, os.path.join(wd, "orders.parquet")),
                  _write(li, os.path.join(wd, "lineitem.parquet")),
                  _write(ptab, os.path.join(wd, "part.parquet"))]
        waves.append({"wave": w, "source_month": _month_start(src).strftime("%Y%m"),
                      "order_month": _month_start(dst).strftime("%Y%m"),
                      "orders": o.num_rows, "lines": li.num_rows,
                      "price_changes": pkeys[changed].tolist()})
    return files, {"held_out_orders": int(held_mask.sum()), "waves": waves}


def gen_dedup_ingest(out, rng):
    docs = _read("documents")
    n = docs.num_rows
    order = rng.permutation(n)
    n_seed = int(n * SEED_FRAC)
    per_wave = max(1, int(n * WAVE_FRAC))

    def table(rows):
        return docs.take(pa.array(np.sort(rows))).sort_by("doc_id")

    files = [_write(table(order[:n_seed]),
                    os.path.join(out, "seed", "documents.parquet", "part-seed.parquet"))]
    waves = []
    for w, lo in enumerate(range(n_seed, n - per_wave + 1, per_wave), start=1):
        tab = table(order[lo:lo + per_wave])
        files.append(_write(tab, os.path.join(out, "waves", f"w{w:03d}.parquet")))
        waves.append({"wave": w, "doc_ids": tab["doc_id"].to_pylist()})
    return files, {"waves": waves}


GENERATORS = {"refresh_serve": gen_refresh_serve, "dedup_ingest": gen_dedup_ingest}


def generate(workload, seed, out):
    """Generate `workload`'s inputs for `seed` under `out`; returns the manifest."""
    if workload not in GENERATORS:
        raise ValueError(f"unknown workload {workload!r}")
    rng = np.random.Generator(np.random.PCG64([seed, sorted(GENERATORS).index(workload)]))
    files, detail = GENERATORS[workload](out, rng)
    for f in files:
        f["path"] = os.path.relpath(f["path"], out)
    manifest = {"workload": workload, "seed": seed, "source": "sf0.01",
                "files": files, **detail}
    with open(os.path.join(out, "manifest.json"), "w") as fh:
        json.dump(manifest, fh, indent=1, sort_keys=True)
    return manifest


if __name__ == "__main__":
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--out", required=True)
    a = ap.parse_args()
    m = generate(a.workload, a.seed, a.out)
    print(json.dumps({"files": len(m["files"]),
                      "rows": sum(f["rows"] for f in m["files"]),
                      "mb": round(sum(f["mb"] for f in m["files"]), 3)}))
