"""Seeded input generator for the graft benchmark; run.py calls generate().

Writes the TpchGraph source tables, the bench-owned `reviews` table, the
incremental batches and the read-query sequence for one seed, plus
`spec.json` with every count the benchmark checks the store against.

Row counts at scale 1.0 are those of the TPC-H-ish sf0.1 tables: 15k
customers, 1k suppliers, 20k parts, 150k orders, 600k lineitems and 100k
events over 1.5k users. The same seed gives the same bytes.
"""
import hashlib
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
STATUSES = ["F", "O", "P"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "view", "purchase", "search", "share"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
TYPES = ["ECONOMY", "STANDARD", "PROMO", "LARGE", "SMALL", "MEDIUM"]
DAY_US = 86_400_000_000
EPOCH_1992_US = 694_224_000_000_000

# Share of the read mix per 100 reads, in the order the spec lists them.
READ_MIX = [("node", 35), ("aggregate", 20), ("neighbors1", 38),
            ("neighbors2", 5), ("traverse", 2)]
NODE_LIMIT = 50
BATCHES = 20  # more than any run applies, so the loop never repeats one
READS = 400  # likewise for reads
EDGE_BUDGET = 1000  # QueryCaps.defaultEdgeLimit: per-branch edge budget
ELEMENT_CAP = 5000  # QueryCaps.maxElements


def zipf_keys(rng, n_items, size, exponent):
    """Keys 1..n_items drawn with P(rank k) ~ k^-exponent; ranks map to keys
    through a seeded permutation, so the hubs are not the low keys."""
    p = np.arange(1, n_items + 1, dtype=np.float64) ** -exponent
    p /= p.sum()
    ranks = rng.choice(n_items, size=size, p=p)
    perm = rng.permutation(n_items) + 1
    return perm[ranks].astype(np.int64)


def supplier_of(partkey, slot, n_supp):
    """TPC-H-style partsupp: each part has four candidate suppliers."""
    return ((partkey + slot * (n_supp // 4 + (partkey - 1) // n_supp)) % n_supp + 1).astype(np.int64)


def write(table: pa.Table, path):
    pq.write_table(table, path, compression="snappy")
    return os.path.getsize(path)


def lineitems_for(rng, orderkeys, orderdates, n_lines, n_parts, n_supp, retail, exponent):
    okeys = np.repeat(orderkeys, n_lines)
    odate = np.repeat(orderdates, n_lines)
    starts = np.cumsum(n_lines) - n_lines
    linenumber = (np.arange(len(okeys)) - np.repeat(starts, n_lines) + 1).astype(np.int32)
    partkey = zipf_keys(rng, n_parts, len(okeys), exponent)
    suppkey = supplier_of(partkey, rng.integers(0, 4, len(okeys)), n_supp)
    qty = rng.integers(1, 51, len(okeys)).astype(np.float64)
    price = np.round(qty * retail[partkey - 1], 2)
    return {
        "l_orderkey": okeys, "l_partkey": partkey, "l_suppkey": suppkey,
        "l_linenumber": linenumber, "l_quantity": qty, "l_extendedprice": price,
        "l_discount": np.round(rng.integers(0, 11, len(okeys)) / 100.0, 2),
        "l_tax": np.round(rng.integers(0, 9, len(okeys)) / 100.0, 2),
        "l_returnflag": rng.choice(["A", "N", "R"], len(okeys)),
        "l_linestatus": rng.choice(["F", "O"], len(okeys)),
        "l_shipdate": odate + rng.integers(1, 122, len(okeys)) * DAY_US,
    }


def ts(a):
    return pa.array(a, type=pa.timestamp("us"))


def lineitem_table(li):
    cols = dict(li)
    cols["l_shipdate"] = ts(li["l_shipdate"])
    return pa.table(cols)


def orders_table(keys, cust, status, total, dates, prio):
    return pa.table({
        "o_orderkey": pa.array(keys, type=pa.int64()), "o_custkey": cust,
        "o_orderstatus": status, "o_totalprice": total,
        "o_orderdate": ts(dates), "o_orderpriority": prio})


def n_lines_exact(rng, n_orders, total):
    """1..7 lines per order (mean 4), nudged so they sum to `total`."""
    n = rng.integers(1, 8, n_orders)
    diff = total - int(n.sum())
    while diff != 0:
        idx = rng.integers(0, n_orders, abs(diff))
        step = 1 if diff > 0 else -1
        for i in idx:
            if 1 <= n[i] + step <= 7 and diff != 0:
                n[i] += step
                diff -= step
    return n


def distinct_rows(*cols):
    """Distinct count of row tuples of small non-negative integers."""
    key = np.zeros(len(cols[0]), dtype=np.int64)
    for c in cols:
        c = c.astype(np.int64)
        key = key * (int(c.max()) + 1) + c
    return int(len(np.unique(key)))


def generate(seed, out, scale, batches, exponent, n_reads):
    rng = np.random.default_rng(seed)
    n_cust = max(100, int(15000 * scale))
    n_supp = max(20, int(1000 * scale))
    n_part = max(100, int(20000 * scale))
    n_ord = max(500, int(150000 * scale))
    n_line = 4 * n_ord
    n_evt = max(500, int(100000 * scale))
    n_users = max(20, int(1500 * scale))
    n_rev = max(200, int(20000 * scale))
    base = os.path.join(out, "base")
    os.makedirs(base, exist_ok=True)
    sizes = {}

    sizes["region"] = write(pa.table({
        "r_regionkey": pa.array(np.arange(5), type=pa.int32()), "r_name": REGIONS}),
        f"{base}/region.parquet")
    sizes["nation"] = write(pa.table({
        "n_nationkey": pa.array(np.arange(25), type=pa.int32()),
        "n_name": [f"NATION_{i:02d}" for i in range(25)],
        "n_regionkey": pa.array(np.arange(25) % 5, type=pa.int32())}),
        f"{base}/nation.parquet")

    custkey = np.arange(1, n_cust + 1, dtype=np.int64)
    c_nation = rng.integers(0, 25, n_cust).astype(np.int32)
    c_segment = rng.choice(SEGMENTS, n_cust)
    sizes["customer"] = write(pa.table({
        "c_custkey": custkey, "c_name": [f"Customer#{k:09d}" for k in custkey],
        "c_nationkey": c_nation,
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": c_segment}), f"{base}/customer.parquet")

    suppkey = np.arange(1, n_supp + 1, dtype=np.int64)
    sizes["supplier"] = write(pa.table({
        "s_suppkey": suppkey, "s_name": [f"Supplier#{k:09d}" for k in suppkey],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2)}),
        f"{base}/supplier.parquet")

    partkey = np.arange(1, n_part + 1, dtype=np.int64)
    p_brand = np.array([f"Brand#{a}{b}" for a, b in
                        zip(rng.integers(1, 6, n_part), rng.integers(1, 6, n_part))])
    p_size = rng.integers(1, 51, n_part).astype(np.int32)
    retail = np.round(900 + (partkey % 20001) / 10.0 + rng.uniform(0, 100, n_part), 2)
    sizes["part"] = write(pa.table({
        "p_partkey": partkey,
        "p_name": [f"part {k} {TYPES[k % 6].lower()}" for k in partkey],
        "p_brand": p_brand, "p_type": rng.choice(TYPES, n_part), "p_size": p_size,
        "p_retailprice": retail}), f"{base}/part.parquet")

    orderkey = np.arange(1, n_ord + 1, dtype=np.int64)
    o_cust = zipf_keys(rng, n_cust, n_ord, exponent)
    o_date = EPOCH_1992_US + rng.integers(0, 2400, n_ord) * DAY_US
    o_status = rng.choice(STATUSES, n_ord)
    o_prio = rng.choice(PRIORITIES, n_ord)
    sizes["orders"] = write(orders_table(
        orderkey, o_cust, o_status, np.round(rng.uniform(800, 500000, n_ord), 2),
        o_date, o_prio), f"{base}/orders.parquet")

    lines = n_lines_exact(rng, n_ord, n_line)
    li = lineitems_for(rng, orderkey, o_date, lines, n_part, n_supp, retail, exponent)
    sizes["lineitem"] = write(lineitem_table(li), f"{base}/lineitem.parquet")

    users = rng.integers(1, n_users + 1, n_evt).astype(np.int64)
    etype = rng.choice(EVENT_TYPES, n_evt)
    sizes["events"] = write(pa.table({
        "event_id": np.arange(1, n_evt + 1, dtype=np.int64),
        "ts": ts(EPOCH_1992_US + np.sort(rng.integers(0, 86_400 * 30, n_evt)) * 1_000_000),
        "user_id": users, "event_type": etype,
        "value": np.round(rng.uniform(0, 100, n_evt), 3),
        "props": [f'{{"k":{i % 7},"src":"s{i % 3}"}}' for i in range(n_evt)]}),
        f"{base}/events.parquet")

    # reviews: distinct (customer, part) pairs, customer named by c_name so
    # the write path resolves it through the by_name secondary identity
    pair_key = np.unique(rng.integers(0, n_cust * n_part, n_rev * 2))
    pair_key = pair_key[rng.permutation(len(pair_key))[:n_rev]]
    pairs = np.stack([pair_key // n_part + 1, pair_key % n_part + 1], axis=1)
    sizes["reviews"] = write(pa.table({
        "c_name": [f"Customer#{k:09d}" for k in pairs[:, 0]],
        "p_partkey": pairs[:, 1].astype(np.int64),
        "rating": rng.integers(1, 6, n_rev).astype(np.int32)}), f"{base}/reviews.parquet")

    rows = {"region": 5, "nation": 25, "customer": n_cust, "supplier": n_supp,
            "part": n_part, "orders": n_ord, "lineitem": n_line, "events": n_evt,
            "reviews": n_rev}
    vertices = {"region": 5, "nation": 25, "customer": n_cust, "supplier": n_supp,
                "part": n_part, "orders": n_ord, "user": int(len(np.unique(users))),
                "event": n_evt}
    all_o, all_p = li["l_orderkey"], li["l_partkey"]
    all_q, all_s = li["l_quantity"], li["l_suppkey"]
    edges = {"nation__in_region__region": 25, "customer__in_nation__nation": n_cust,
             "supplier__in_nation__nation": n_supp, "orders__placed_by__customer": n_ord,
             "orders__contains__part": distinct_rows(all_o, all_p, all_q),
             "part__supplied_by__supplier": distinct_rows(all_p, all_s),
             "event__by_user__user": n_evt, "customer__reviewed__part": n_rev}

    # ---- incremental batches: ~5% updated orders with their lineitems,
    # ~1% new orders, and a known number of orders docs with no identity
    batch_specs = []
    o_keys, o_custs, o_dates = orderkey, o_cust, o_date
    line_start = np.concatenate([[0], np.cumsum(lines)])
    li_by_order = {"start": line_start, "lines": lines}
    n_total = n_ord
    for b in range(batches):
        bdir = os.path.join(out, f"batch_{b:03d}")
        os.makedirs(bdir, exist_ok=True)
        upd = np.sort(rng.choice(n_ord, size=max(1, int(0.05 * n_ord)), replace=False))
        n_new = max(1, int(0.01 * n_ord))
        new_keys = np.arange(n_total + 1, n_total + n_new + 1, dtype=np.int64)
        new_cust = zipf_keys(rng, n_cust, n_new, exponent)
        new_dates = EPOCH_1992_US + rng.integers(0, 2400, n_new) * DAY_US
        keys = np.concatenate([o_keys[upd], new_keys])
        dates = np.concatenate([o_dates[upd], new_dates])
        bsize = write(orders_table(
            keys, np.concatenate([o_custs[upd], new_cust]),
            rng.choice(STATUSES, len(keys)),
            np.round(rng.uniform(800, 500000, len(keys)), 2), dates,
            rng.choice(PRIORITIES, len(keys))), f"{bdir}/orders.parquet")
        # updated orders carry their lineitems unchanged but for discount and
        # tax (not part of the contains identity); new orders get fresh ones
        sel = np.concatenate([np.arange(li_by_order["start"][i], li_by_order["start"][i + 1])
                              for i in upd])
        upd_li = {k: v[sel] for k, v in li.items()}
        upd_li["l_discount"] = np.round(rng.integers(0, 11, len(sel)) / 100.0, 2)
        upd_li["l_tax"] = np.round(rng.integers(0, 9, len(sel)) / 100.0, 2)
        new_lines = rng.integers(1, 8, n_new)
        new_li = lineitems_for(rng, new_keys, new_dates, new_lines, n_part, n_supp,
                               retail, exponent)
        bli = {k: np.concatenate([upd_li[k], new_li[k]]) for k in li}
        bsize += write(lineitem_table(bli), f"{bdir}/lineitem.parquet")
        n_unkeyed = int(rng.integers(5, 40))
        write(pa.table({
            "o_orderkey": pa.nulls(n_unkeyed, type=pa.int64()),
            "o_custkey": rng.integers(1, n_cust + 1, n_unkeyed).astype(np.int64),
            "o_orderstatus": rng.choice(STATUSES, n_unkeyed)}), f"{bdir}/unkeyed.parquet")
        n_total += n_new
        all_o = np.concatenate([all_o, new_li["l_orderkey"]])
        all_p = np.concatenate([all_p, new_li["l_partkey"]])
        all_q = np.concatenate([all_q, new_li["l_quantity"]])
        all_s = np.concatenate([all_s, new_li["l_suppkey"]])
        batch_specs.append({
            "dir": f"batch_{b:03d}", "rows": int(len(keys) + len(bli["l_orderkey"])),
            "bytes": bsize, "unkeyed": n_unkeyed,
            "vertices": {"orders": int(n_total)},
            "edges": {"orders__placed_by__customer": int(n_total),
                      "orders__contains__part": distinct_rows(all_o, all_p, all_q),
                      "part__supplied_by__supplier": distinct_rows(all_p, all_s)}})

    reads = read_sequence(rng, n_reads, c_nation, c_segment, p_brand, p_size,
                          o_cust, li, n_cust, n_ord, n_part)
    warmup, reads = reads[n_reads:], reads[:n_reads]
    aggregate_groups = {
        "customer.c_mktsegment": len(np.unique(c_segment)),
        "orders.o_orderstatus": len(np.unique(o_status)),
        "orders.o_orderpriority": len(np.unique(o_prio)),
        "part.p_brand": len(np.unique(p_brand))}
    sssp_source = f"c:{int(o_cust[0])}"

    digest = hashlib.sha256()
    for name in sorted(os.listdir(base)):
        with open(os.path.join(base, name), "rb") as f:
            digest.update(f.read())
    spec = {"seed": seed, "scale": scale, "zipf": exponent, "rows": rows,
            "input_bytes": int(sum(sizes.values())), "vertices": vertices,
            "edges": edges, "batches": batch_specs, "reads": reads, "warmup": warmup,
            "aggregate_groups": aggregate_groups, "sssp_source": sssp_source,
            "node_limit": NODE_LIMIT, "mix": dict(READ_MIX), "digest": digest.hexdigest()}
    with open(os.path.join(out, "spec.json"), "w") as f:
        json.dump(spec, f)
    return spec


def interleaved(n):
    """Read kinds in READ_MIX proportions, spread so that every prefix holds
    each kind in close to its share. A run fits only about ten reads, so
    the sequence opens with three of each point read (cheap, and the mix's
    median is one of them), two one-hop reads (its 90th percentile) and one
    of each other multi-hop read; the benchmark weighs each kind back to its
    share."""
    out = ["node", "aggregate"] * 3 + ["neighbors1", "neighbors1", "neighbors2", "traverse"]
    done = {k: out.count(k) for k, _ in READ_MIX}
    for i in range(len(out), n):
        kind = max(READ_MIX, key=lambda kw: kw[1] * (i + 1) / 100 - done[kw[0]])[0]
        done[kind] += 1
        out.append(kind)
    return out


def read_sequence(rng, n_reads, c_nation, c_segment, p_brand, p_size, o_cust, li,
                  n_cust, n_ord, n_part):
    """Seeded reads in READ_MIX proportions.

    Multi-hop anchors are orders whose 2-hop neighbourhood over
    placed_by/contains stays under QueryCaps.maxElements for every seed of
    a traverse, so a read that trips a cap is a defect, not the workload."""
    cust_deg = np.bincount(o_cust, minlength=n_cust + 1)
    part_deg = np.bincount(li["l_partkey"], minlength=n_part + 1)
    order_parts = np.zeros(n_ord + 1, dtype=np.int64)
    np.add.at(order_parts, li["l_orderkey"], part_deg[li["l_partkey"]])
    bound = 2 * (np.minimum(cust_deg[np.r_[0, o_cust]], EDGE_BUDGET)
                 + np.minimum(order_parts, EDGE_BUDGET) + 8)
    small = np.nonzero(bound[1:] <= ELEMENT_CAP // 3)[0] + 1
    reads = []
    # point reads rotate through their templates, so every run measures the
    # same templates and only the seeded filter values differ
    n_node = n_agg = 0
    # the warm-up reads follow the measured ones
    for kind in interleaved(n_reads) + ["node", "aggregate", "neighbors1"]:
        if kind == "node":
            t = n_node % 3
            n_node += 1
            if t == 0:
                n = int(rng.integers(0, 25)); s = SEGMENTS[int(rng.integers(0, 5))]
                reads.append({"kind": kind, "vertex": "customer", "filters": [
                    ["c_nationkey", "==", n], ["c_mktsegment", "==", s]],
                    "matches": int(np.sum((c_nation == n) & (c_segment == s)))})
            elif t == 1:
                k = int(o_cust[rng.integers(0, len(o_cust))])
                reads.append({"kind": kind, "vertex": "orders",
                              "filters": [["o_custkey", "==", k]],
                              "matches": int(cust_deg[k])})
            else:
                b = str(p_brand[rng.integers(0, len(p_brand))]); s = int(rng.integers(5, 50))
                reads.append({"kind": kind, "vertex": "part", "filters": [
                    ["p_brand", "==", b], ["p_size", "<=", s]],
                    "matches": int(np.sum((p_brand == b) & (p_size <= s)))})
        elif kind == "aggregate":
            vertex, field = [("customer", "c_mktsegment"), ("orders", "o_orderstatus"),
                             ("part", "p_brand"), ("orders", "o_orderpriority")][n_agg % 4]
            n_agg += 1
            reads.append({"kind": kind, "vertex": vertex, "by": field})
        elif kind == "neighbors1":
            # a customer's orders, nation and reviewed parts; its degree is
            # heavy-tailed through the skew on o_custkey
            reads.append({"kind": kind, "vertex": "customer",
                          "id": str(int(rng.integers(1, n_cust + 1)))})
        elif kind == "neighbors2":
            reads.append({"kind": kind, "vertex": "orders",
                          "id": str(int(small[rng.integers(0, len(small))]))})
        else:
            seeds = rng.choice(small, size=3, replace=False)
            reads.append({"kind": kind, "vertex": "orders",
                          "ids": [str(int(s)) for s in seeds]})
    return reads
