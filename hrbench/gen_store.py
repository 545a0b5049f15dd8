"""Seeded generator and expected-answer algebra for `snapshot_maint`.

Rows are postings-shaped `(g, doc_id, pt)`: `g` is a 12-digit hex gram id,
`pt = int(g, 16) % PARTS` is the partition column, and `(g, doc_id)` is the
key. A pass is a fixed op plan:

    init, compact (2 partitions), compact (all partitions), stage_deletes,
    read_mor, retract, read, read_at, bin_pack, diff, vacuum, read

Each compact increment carries fresh keys plus a known share of keys that
are already live (those must drop). The deletes fall in two partitions, so
the others are left with several files for `bin_pack`. Fresh keys are never
reused and deletes are drawn from live keys, so a staged delete never
shadows a later admit.

`expected()` replays the plan on Python sets and gives, for every op, the
answer the store must return: the admitted and removed row counts, and the
count and order-insensitive hash of every read (see `digest`).
"""
import csv
import os
import random

PARTS = 16
BASE_ROWS = 12000
FRESH_ROWS = 2400
DUP_SHARE = 0.25
DEAD_ROWS = 600
NARROW_PARTS = 2

# Moduli of the two order-insensitive row hashes; the JVM side computes the
# same sums with Spark column arithmetic (no overflow: all terms < 2^62).
M0, M1, M2 = 1000000007, 2147483647, 2147483629


def row_hash(g, doc_id, pt):
    a = int(g, 16) % M0
    return ((a * 1000003 + doc_id) % M1,
            (doc_id * 1000033 + a * 31 + pt) % M2)


def digest(rows):
    """(count, sum h1, sum h2) of a set of (g, doc_id) keys."""
    s1 = s2 = 0
    for g, d in rows:
        h1, h2 = row_hash(g, d, int(g, 16) % PARTS)
        s1 += h1
        s2 += h2
    return [len(rows), s1, s2]


def generate(seed, out_dir=None):
    """Build the datasets and the op plan; write the datasets as CSV under
    `out_dir` when given. Returns (datasets, plan)."""
    rng = random.Random(seed)
    used = set()
    grams = {p: [] for p in range(PARTS)}
    while min(len(v) for v in grams.values()) < 64:
        gnum = rng.getrandbits(48)
        grams[gnum % PARTS].append(f"{gnum:012x}")

    def fresh(n, parts):
        out = []
        while len(out) < n:
            k = (rng.choice(grams[rng.choice(parts)]), rng.randrange(1, 10**7))
            if k not in used:
                used.add(k)
                out.append(k)
        return out

    def pick(live, n, parts):
        pool = sorted(k for k in live if int(k[0], 16) % PARTS in parts)
        return rng.sample(pool, min(n, len(pool)))

    all_parts = list(range(PARTS))
    data = {"base": fresh(BASE_ROWS, all_parts)}
    live = set(data["base"])
    narrow = sorted(rng.sample(all_parts, NARROW_PARTS))
    for name, parts in (("inc_narrow", narrow), ("inc_wide", all_parts)):
        new = fresh(FRESH_ROWS, parts)
        inc = new + pick(live, int(FRESH_ROWS * DUP_SHARE), parts)
        rng.shuffle(inc)
        data[name] = inc
        live |= set(new)
    data["dead"] = pick(live, DEAD_ROWS,
                        sorted(rng.sample(all_parts, NARROW_PARTS)))
    plan = [{"op": "init", "data": "base"},
            {"op": "compact", "data": "inc_narrow"},
            {"op": "compact", "data": "inc_wide"},
            {"op": "stage_deletes", "data": "dead"},
            {"op": "read_mor"},
            {"op": "retract", "data": "dead"},
            {"op": "read"},
            {"op": "read_at", "at_op": 1},
            {"op": "bin_pack"},
            {"op": "diff", "from_op": 1},
            {"op": "vacuum"},
            {"op": "read"}]
    if out_dir:
        os.makedirs(out_dir, exist_ok=True)
        for name, rows in data.items():
            with open(os.path.join(out_dir, f"{name}.csv"), "w",
                      newline="") as f:
                w = csv.writer(f)
                w.writerow(["g", "doc_id", "pt"])
                for g, d in rows:
                    w.writerow([g, d, int(g, 16) % PARTS])
    return data, plan


def expected(data, plan):
    """Replay `plan` on sets. Returns one dict per op with the answer the
    store must give; ops whose answer is only "does not throw" get {}.

    `phys` is what `read` shows (staged deletes not applied) and `mor` what
    `read_mor` shows; `state[i]` is (phys, mor) after op i."""
    phys, staged = set(), set()
    state, out = [], []
    for i, step in enumerate(plan):
        op, exp = step["op"], {}
        if op == "init":
            phys = set(data[step["data"]])
        elif op == "compact":
            inc = data[step["data"]]
            admitted = [k for k in dict.fromkeys(inc) if k not in phys]
            phys |= set(admitted)
            exp = {"admitted": len(admitted)}
        elif op == "stage_deletes":
            staged |= set(data[step["data"]])
        elif op == "retract":
            dead = set(data[step["data"]])
            exp = {"removed": len(phys & dead)}
            phys -= dead
        elif op == "read":
            exp = {"digest": digest(phys)}
        elif op == "read_mor":
            exp = {"digest": digest(phys - staged)}
        elif op == "read_at":
            exp = {"digest": digest(state[step["at_op"]][0])}
        elif op == "diff":
            old = state[step["from_op"]][1]
            now = phys - staged
            exp = {"added": digest(now - old), "removed": digest(old - now)}
        state.append((set(phys), phys - staged))
        out.append(exp)
    return out


def submitted_rows(data, plan):
    """Rows handed to the store's writing ops in one pass."""
    return sum(len(data[s["data"]]) for s in plan if "data" in s)
