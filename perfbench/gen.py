"""Seeded input generator for the perfbench workloads.

Everything a run reads is derived from ``random.Random(seed)``: the same
seed writes byte-identical files. Next to the inputs the generator writes
``expected.json``, the facts the correctness check compares the program's
outputs against (per-file win histograms and lookup bets for the ``.pol``
workloads, the surviving documents and their splits for ``curate``). The
program under test never reads ``expected.json``.
"""

import hashlib
import json
import math
import os
import random

# Traffic dimensions. They are recorded in BENCHMARK.json's workload lines
# and in perfbench/README.md; change them there too.
POL_FULL = {"files": 29, "lines": 200000, "bodies_per_bet": 1}
# Offsets in each block of ten pushes: two adds (20%) and one push to a
# pool the lookup misses; every other push modifies a file with a hit.
POL_PUSH = {"files": 500, "inventory_lines": 1000, "lines": 20000, "pushes": 20,
            "add_slots": (3, 8), "miss_slot": 2, "bodies_per_bet": 4}
CURATE = {"docs": 3000, "gate_fail": 0.15, "dup": 0.10, "contam": 0.05}

TYPE_CODES = ["TB1", "TB2", "TB3", "TF1", "TF2"]
# pool_type -> classification branch: GAB+PFB, PFB, flat (max_multiplier),
# and two plain REG codes.
POOL_TYPES = ["395", "51250", "40250", "110", "77"]
BETS = [10, 20, 25, 40, 50, 100]
LOOKUP_MIX = [("exact", 0.6), ("strip0", 0.2), ("zfill", 0.1), ("miss", 0.1)]
FOLDERS = ["alpha", "beta", "beta/deep", "gamma"]
STOP = ["the", "a", "of", "to", "and"]
SOURCES = ["web", "books", "code", "wiki"]
# Benchmark-membership rule of the curation pipeline: ids divisible by 97
# below the eval-suite budget are the held-out set x8 screens against.
BENCH_MOD, BENCH_BUDGET = 97, 50000


def _pool_id(rng, kind, used):
    """One pool id not in ``used`` and its lookup rows (none for a miss).

    Kinds: exact matches, zero-padded file ids resolved by the de-zeroed
    stage, short lookup ids resolved only by the zero-pad stage, misses.
    Returns (file_pool_id, [(dim_pool_id, bet), ...]).
    """
    while True:
        if kind == "strip0":
            core = str(rng.randint(100, 999))
            pid, dims = "0" + core, [core]
        elif kind == "zfill":
            core = str(rng.randint(10, 99))
            pid, dims = "00" + core, ["0" + core]
        else:
            pid = str(rng.randint(1000, 9999))
            dims = [] if kind == "miss" else [pid]
        if pid not in used and pid.lstrip("0") not in used:
            break
    used.update({pid, pid.lstrip("0")})
    rows = [(d, rng.choice(BETS)) for d in dims]
    if rows and rng.random() < 0.25:  # second game on the same pool
        rows.append((rows[0][0], rng.choice(BETS)))
    return pid, rows


def _pool_ids(rng, n, used):
    """``n`` distinct pool ids: 60% exact, 20% de-zeroed, 10% zero-pad,
    10% misses, as exact counts in a seeded order, so that every seed
    has the same mix."""
    kinds = [k for k, share in LOOKUP_MIX for _ in range(round(n * share))]
    kinds = (kinds + ["exact"] * n)[:n]
    rng.shuffle(kinds)
    return [_pool_id(rng, k, used) for k in kinds]


def _pol_file(rng, n_lines, bet):
    """One .pol body: ~80% zero wins, ~329 distinct positive wins.

    Returns (text, histogram {win: count}, lines_dropped).
    """
    zero_share = rng.uniform(0.76, 0.84)
    n_hits = max(1, round(n_lines * (1 - zero_share)))
    k = min(n_hits, rng.randint(300, 360))
    scale = bet if bet else rng.choice(BETS)
    wins = set()
    while len(wins) < k:
        wins.add(max(1, round(scale * math.exp(rng.gauss(0.8, 1.1)))))
    wins = sorted(wins)
    weights = [1.0 / (1 + i) ** 0.7 for i in range(k)]
    rng.shuffle(weights)
    counts = dict.fromkeys(wins, 1)
    for w in rng.choices(wins, weights=weights, k=n_hits - k):
        counts[w] += 1
    counts[0] = n_lines - n_hits
    values = [w for w, c in counts.items() for _ in range(c)]
    rng.shuffle(values)
    codes = rng.choices(TYPE_CODES, k=len(values))
    lines = [f"{v} {tc}" for v, tc in zip(values, codes)]
    for j, v in enumerate(values):
        if v >= 2 and rng.random() < 0.03:  # third token adds to the win
            a = rng.randint(0, v)
            lines[j] = f"{a} {codes[j]} {v - a}"
    dropped = max(1, n_lines // 400)  # lines the parser drops
    for _ in range(dropped):
        lines.insert(rng.randrange(len(lines) + 1),
                     rng.choice(["# checksum", "", "NaN TB1", "x TF2 3"]))
    return "\n".join(lines) + "\n", {w: c for w, c in counts.items() if c}, dropped


class _Bodies:
    """Generated .pol bodies of ``n_lines`` lines, reused across files of
    the same bet.

    A file's content only sets its own histogram; the program does the
    same work for a copy as for a fresh body. Drawing from ``per_bet``
    bodies per bet keeps generation of a large inventory to a few
    seconds.
    """

    def __init__(self, rng, n_lines, per_bet):
        self.rng, self.n_lines, self.per_bet, self.made = rng, n_lines, per_bet, {}

    def get(self, bet):
        pool = self.made.setdefault(bet, [])
        if len(pool) < self.per_bet:
            pool.append(_pol_file(self.rng, self.n_lines, bet))
        return self.rng.choice(pool)


def _write(path, text):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w", encoding="utf-8", newline="\n") as f:
        f.write(text)


def _expect_entry(hist, rows, dropped):
    return {"bet": rows[0][1] if rows else None,
            "hist": sorted([w, c] for w, c in hist.items()),
            "dropped": dropped}


def _lookup_csv(path, pools):
    lines = ["Game,Game_id,Pool_id,Bet,Max_win_factor"]
    gid = 5000
    for _, rows in pools:
        for dim_id, bet in rows:
            gid += 1
            lines.append(f"Game{gid},{gid},{dim_id},{bet},{bet * 500}")
    _write(path, "\n".join(lines) + "\n")


def _pol_name(rng, pid):
    return f"{rng.choice(FOLDERS)}/Pool_{pid}_{rng.choice(POOL_TYPES)}.pol"


def _inventory(rng, out, pools, bodies):
    """Write one .pol file per pool; return ({path: expect}, {path: rows})."""
    files, rows_of = {}, {}
    for pid, rows in pools:
        rel = _pol_name(rng, pid)
        text, hist, dropped = bodies.get(rows[0][1] if rows else None)
        _write(os.path.join(out, "pools", rel), text)
        files[rel] = _expect_entry(hist, rows, dropped)
        rows_of[rel] = rows
    return files, rows_of


def gen_pol_full(rng, out):
    cfg = POL_FULL
    pools = _pool_ids(rng, cfg["files"], set())
    files, _ = _inventory(rng, out, pools, _Bodies(rng, cfg["lines"], cfg["bodies_per_bet"]))
    _lookup_csv(os.path.join(out, "game_lookup.csv"), pools)
    return {"files": files}


def gen_pol_push(rng, out):
    """Inventory plus a pre-generated push sequence.

    Push i writes ``pushes/<i>/<relative_path>``: the pushes at
    ``add_slots`` of each block of ten add a new pool, the rest modify an
    earlier file in place (adds extend the inventory, so later modifies
    may target an added file). The push at ``miss_slot`` of each block
    goes to a pool the lookup misses (the inventory's 10% miss share); it
    runs faster than a push with a hit. The slots are the same for every
    seed, so every run times the same mix of push kinds in the same
    order; the seed sets the pools, paths and contents.
    """
    cfg = POL_PUSH
    n = cfg["pushes"]
    used = set()
    pools = _pool_ids(rng, cfg["files"], used)
    add_slots = {b + k for b in range(0, n, 10) for k in cfg["add_slots"] if b + k < n}
    miss_slots = {b + cfg["miss_slot"] for b in range(0, n, 10) if b + cfg["miss_slot"] < n}
    add_pools = {i: _pool_id(rng, "miss" if i in miss_slots else "exact", used)
                 for i in sorted(add_slots)}
    _lookup_csv(os.path.join(out, "game_lookup.csv"), pools + list(add_pools.values()))
    files, rows_of = _inventory(rng, out, pools,
                                _Bodies(rng, cfg["inventory_lines"], cfg["bodies_per_bet"]))
    names = {False: sorted(p for p, r in rows_of.items() if r),
             True: sorted(p for p, r in rows_of.items() if not r)}
    pushes = []
    for i in range(n):
        miss = i in miss_slots
        if i in add_slots:
            pid, rows = add_pools[i]
            rel = _pol_name(rng, pid)
            rows_of[rel] = rows
            names[miss].append(rel)
            kind = "add"
        else:
            rel = rng.choice(names[miss])
            rows = rows_of[rel]
            kind = "modify"
        text, hist, dropped = _pol_file(rng, cfg["lines"], rows[0][1] if rows else None)
        _write(os.path.join(out, "pushes", f"{i:04d}", rel), text)
        pushes.append({"kind": kind, "path": rel,
                       "expect": _expect_entry(hist, rows, dropped)})
    return {"files": files, "pushes": pushes}


def _split_of(doc_id):
    bucket = int(hashlib.md5(str(doc_id).encode()).hexdigest()[:7], 16) % 100
    return "train" if bucket < 80 else "val" if bucket < 90 else "test"


def gen_curate(rng, out):
    """documents.jsonl with planted gate failures, duplicates and
    benchmark-contaminated copies; the expected survivors and splits.

    Words are random letter strings, so two unrelated documents share
    almost no 8-character shingles and only planted copies reach the 0.5
    contamination threshold.
    """
    cfg = CURATE
    letters = "abcdefghijklmnopqrstuvwxyz"
    vocab = set()
    while len(vocab) < 20000:
        w = "".join(rng.choice(letters) for _ in range(rng.randint(3, 9)))
        if w not in STOP:
            vocab.add(w)
    vocab = sorted(vocab)

    def words(n, stop_share):
        return [rng.choice(STOP) if rng.random() < stop_share else rng.choice(vocab)
                for _ in range(n)]

    def passing_text():
        toks = words(rng.randint(40, 90), 0.2) + ["the", "of"]
        rng.shuffle(toks)
        return " ".join(toks)

    n = cfg["docs"]
    texts, kind = [None] * n, [None] * n
    bench_ids = [i for i in range(n) if i % BENCH_MOD == 0 and i < BENCH_BUDGET]
    for i in bench_ids:
        texts[i], kind[i] = passing_text(), "bench"
    clean_ids = []
    for i in range(n):
        if kind[i]:
            continue
        r = rng.random()
        if r < cfg["gate_fail"]:
            texts[i], kind[i] = " ".join(words(rng.randint(40, 90), 0.0)), "gate_fail"
        elif r < cfg["gate_fail"] + cfg["contam"] and bench_ids:
            src = texts[rng.choice(bench_ids)]
            texts[i], kind[i] = src + " " + " ".join(words(6, 0.3)), "contam"
        elif r < cfg["gate_fail"] + cfg["contam"] + cfg["dup"] and clean_ids:
            texts[i], kind[i] = texts[rng.choice(clean_ids)], "dup"
        else:
            texts[i], kind[i] = passing_text(), "clean"
            clean_ids.append(i)
    survivors = {}
    for i in range(n):
        if kind[i] in ("clean", "contam"):
            survivors[str(i)] = "quarantined" if kind[i] == "contam" else _split_of(i)
    path = os.path.join(out, "documents.jsonl")
    os.makedirs(out, exist_ok=True)
    with open(path, "w", encoding="utf-8", newline="\n") as f:
        for i, t in enumerate(texts):
            f.write(json.dumps({"doc_id": i, "text": t, "lang": "en",
                                "source": SOURCES[i % len(SOURCES)],
                                "n_chars": len(t)}, separators=(",", ":")) + "\n")
    counts = {k: kind.count(k) for k in ("bench", "gate_fail", "contam", "dup", "clean")}
    return {"docs": n, "kinds": counts, "survivors": survivors}


GENERATORS = {"pol_full": gen_pol_full, "pol_push": gen_pol_push, "curate": gen_curate}


def generate(workload, seed, out):
    """Write the inputs of ``workload`` for ``seed`` under ``out``."""
    rng = random.Random(f"{workload}:{seed}")
    expected = GENERATORS[workload](rng, out)
    with open(os.path.join(out, "expected.json"), "w", encoding="utf-8") as f:
        json.dump(expected, f, sort_keys=True)
    return expected
