"""Seeded input generators for the benchmark workloads.

Every generator takes the seed as an argument, draws from its own
numpy PCG64 stream and writes parquet with pyarrow, so a seed gives
byte-identical files. Nothing here imports Spark: inputs are built by
the benchmark process before the Spark session starts timing anything.

Corpus shapes:

- ``tpch_tables``: the ten TPC-H-shaped tables that
  ``sources.tpch.derived_transcripts`` reads (long ~0.5-1.5 KB turns,
  several hundred distinct class surfaces). Part names carry planted
  near-duplicate families (plural, typo and clipped variants).
- ``chat_transcripts``: short turns dense in class mentions (TitleCase
  names, @handles, tickets) drawn with a hot-entity skew from a
  vocabulary of planted surface families plus same-surname distractors;
  ``chat_delta`` appends a seeded delta to such a corpus.
- ``neardup_documents``: word documents with planted exact-duplicate,
  near-duplicate and unique populations plus one boilerplate clique.

Each returns the planted truth (surface -> family) and the input
properties the engine's cost depends on.
"""

from __future__ import annotations

import datetime as _dt

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

_EPOCH = _dt.datetime(2024, 1, 1)

# streams: one independent generator per (seed, purpose)
_S_PARTS, _S_LINES, _S_DOCS, _S_CHAT, _S_QUERY, _S_DELTA, _S_NEARDUP = range(7)

DOC_VOCAB_TPCH = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()

_ONSET = ("b c d f g h j k l m n p r s t v w z br ch sh th st gr tr kl "
          "dr fl pr").split()
_VOWEL = "a e i o u a e i o ai ea ou".split()
_CODA = ["", "", "", "n", "r", "s", "l", "m", "th", "x", "nd", "rt"]
_FILLER = (
    "ok so then and also said that the run was done after we checked "
    "with about later it looks fine to me maybe again please ping"
).split()
_TICKET_PROJECTS = ("KGP", "OPS", "DATA", "INFRA", "SEC")
_CALLS = ("run_job() load_table() sync_state() retry_all() flush_cache() "
          "build_index()").split()


def _rng(seed: int, stream: int) -> np.random.Generator:
    return np.random.default_rng([int(seed), stream])


def _write(table: pa.Table, path: str) -> int:
    pq.write_table(table, path, compression="snappy")
    return table.nbytes


def _ts(seconds: np.ndarray) -> pa.Array:
    base = np.datetime64(_EPOCH, "us")
    return pa.array(base + seconds.astype("timedelta64[s]"), pa.timestamp("us"))


def documents_table(seed: int, n_docs: int) -> pa.Table:
    """Random word documents over the TPC-H testdata's 30-word
    vocabulary (the turn text of the derived transcripts view)."""
    r = _rng(seed, _S_DOCS)
    vocab = np.array(DOC_VOCAB_TPCH)
    texts = [" ".join(vocab[r.integers(0, len(vocab), int(r.integers(8, 97)))])
             for _ in range(n_docs)]
    return pa.table({
        "doc_id": pa.array(np.arange(n_docs, dtype=np.int64)),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(["en"] * n_docs, pa.string()),
        "source": pa.array([f"src{i % 20}" for i in range(n_docs)], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


# ---------------------------------------------------------------- TPC-H shape

def _part_catalogue(r: np.random.Generator, n_bases: int) -> tuple[list[str], list[int]]:
    """Lower-case two-word part names and their family ids. Words are
    made up, from pools small enough that some names share a word; each
    base name may get a plural, a one-letter typo and a clipped first
    word as variants (the clipped form often falls below the link
    threshold)."""
    pool = max(8, 2 * n_bases)
    adjs = [_name(r, 2) for _ in range(pool)]
    nouns = [_name(r, int(r.integers(1, 3))) for _ in range(pool)]
    names, fams, seen = [], [], set()

    def add(name: str, fam: int) -> None:
        if name not in seen:
            seen.add(name)
            names.append(name)
            fams.append(fam)

    for fam in range(n_bases):
        adj, noun = adjs[int(r.integers(pool))], nouns[int(r.integers(pool))]
        if f"{adj} {noun}" in seen:
            continue
        add(f"{adj} {noun}", fam)
        if r.random() < 0.3:
            add(f"{adj} {noun}s", fam)
        if r.random() < 0.3 and len(noun) > 3:
            i = int(r.integers(1, len(noun) - 1))
            add(f"{adj} {noun[:i]}{noun[i + 1:]}", fam)
        if r.random() < 0.3 and len(adj) > 4:
            add(f"{adj[:4]} {noun}", fam)
    return names, fams


def tpch_tables(seed: int, out_dir: str, n_orders: int) -> dict:
    """Write the ten TPC-H-shaped tables to `out_dir`.

    Lines per order are uniform on 1..7 (mean 4), as in the TPC-H
    testdata. Returns the planted truth and input properties."""
    import os

    r = _rng(seed, _S_PARTS)
    n_parts = max(50, n_orders * 4 // 10)
    n_supp = max(10, n_orders * 4 // 600)
    names, fams = _part_catalogue(r, max(20, n_parts // 3))
    p_name_idx = r.integers(0, len(names), n_parts)
    types = np.array("ECONOMY LARGE MEDIUM PROMO SMALL STANDARD".split())
    part = pa.table({
        "p_partkey": pa.array(np.arange(n_parts, dtype=np.int64)),
        "p_name": pa.array([names[i] for i in p_name_idx], pa.string()),
        "p_brand": pa.array([f"Brand#{b}" for b in r.integers(1, 26, n_parts)], pa.string()),
        "p_type": pa.array(types[r.integers(0, len(types), n_parts)], pa.string()),
        "p_size": pa.array(r.integers(1, 51, n_parts).astype(np.int32)),
        "p_retailprice": pa.array(np.round(r.uniform(900, 2000, n_parts), 2)),
    })
    supplier = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp, dtype=np.int64)),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)], pa.string()),
        "s_nationkey": pa.array(r.integers(0, 25, n_supp).astype(np.int32)),
        "s_acctbal": pa.array(np.round(r.uniform(-999, 9999, n_supp), 2)),
    })
    n_docs = max(50, n_orders // 30)

    rl = _rng(seed, _S_LINES)
    n_lines = rl.integers(1, 8, n_orders)
    ok = np.repeat(np.arange(n_orders), n_lines)
    ln = np.concatenate([np.arange(1, n + 1) for n in n_lines])
    m = len(ok)
    base_li = pa.table({
        "l_orderkey": pa.array(ok.astype(np.int64)),
        "l_partkey": pa.array(rl.integers(0, n_parts, m).astype(np.int64)),
        "l_suppkey": pa.array(rl.integers(0, n_supp, m).astype(np.int64)),
        "l_linenumber": pa.array(ln.astype(np.int32)),
        "l_quantity": pa.array(rl.integers(1, 51, m).astype(np.float64)),
        "l_extendedprice": pa.array(np.round(rl.uniform(900, 100000, m), 2)),
        "l_discount": pa.array(np.round(rl.integers(0, 11, m) / 100.0, 2)),
        "l_tax": pa.array(np.round(rl.integers(0, 9, m) / 100.0, 2)),
        "l_returnflag": pa.array(np.array(["A", "N", "R"])[rl.integers(0, 3, m)], pa.string()),
        "l_linestatus": pa.array(np.array(["F", "O"])[rl.integers(0, 2, m)], pa.string()),
        "l_shipdate": _ts(rl.integers(0, 7 * 365, m) * 86400 - 9 * 365 * 86400),
    })
    orders = pa.table({
        "o_orderkey": pa.array(np.arange(n_orders, dtype=np.int64)),
        "o_custkey": pa.array(rl.integers(0, max(1, n_orders // 10), n_orders).astype(np.int64)),
        "o_orderstatus": pa.array(np.array(["F", "O", "P"])[rl.integers(0, 3, n_orders)], pa.string()),
        "o_totalprice": pa.array(np.round(rl.uniform(1000, 400000, n_orders), 2)),
        "o_orderdate": _ts(rl.integers(0, 7 * 365, n_orders) * 86400 - 9 * 365 * 86400),
        "o_orderpriority": pa.array(np.array(["1-URGENT", "3-MEDIUM", "5-LOW"])[rl.integers(0, 3, n_orders)], pa.string()),
    })
    n_cust = max(1, n_orders // 10)
    static = {
        "region": pa.table({"r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
                            "r_name": pa.array(["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"])}),
        "nation": pa.table({"n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
                            "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
                            "n_regionkey": pa.array((np.arange(25) % 5).astype(np.int32))}),
        "customer": pa.table({
            "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
            "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
            "c_nationkey": pa.array(rl.integers(0, 25, n_cust).astype(np.int32)),
            "c_acctbal": pa.array(np.round(rl.uniform(-999, 9999, n_cust), 2)),
            "c_mktsegment": pa.array(np.array(["BUILDING", "MACHINERY", "HOUSEHOLD"])[rl.integers(0, 3, n_cust)]),
        }),
        "supplier": supplier,
        "part": part,
        "events": pa.table({
            "event_id": pa.array(np.arange(100, dtype=np.int64)),
            "ts": _ts(np.arange(100) * 7),
            "user_id": pa.array((np.arange(100) % 10).astype(np.int64)),
            "event_type": pa.array(["click", "error"] * 50),
            "value": pa.array(np.round(rl.uniform(0, 10, 100), 2)),
            "props": pa.array(['{"k": 1}'] * 100),
        }),
        "documents": documents_table(seed, n_docs),
        "embeddings": pa.table({
            "vec_id": pa.array(np.arange(16, dtype=np.int64)),
            "embedding": pa.array([list(rl.normal(size=8).astype(np.float32)) for _ in range(16)],
                                  pa.list_(pa.float32())),
            "label": pa.array((np.arange(16) % 4).astype(np.int32)),
        }),
    }
    nbytes = 0
    os.makedirs(out_dir, exist_ok=True)
    for name, tbl in static.items():
        nbytes += _write(tbl, os.path.join(out_dir, f"{name}.parquet"))
    nbytes += _write(orders, os.path.join(out_dir, "orders.parquet"))
    nbytes += _write(base_li, os.path.join(out_dir, "lineitem.parquet"))
    props = {
        "turns": base_li.num_rows,
        "conversations": n_orders,
        "input_bytes": nbytes,
        "documents": n_docs,
        "part_names": len(set(p_name_idx.tolist())),
        "suppliers": n_supp,
    }
    return {
        "part_family": {f"{n.split()[0].title()} {n.split()[1].title()}": fams[i]
                        for i, n in enumerate(names)},
        "supplier_count": n_supp,
        "props": props,
    }


# ------------------------------------------------------------- chat shape

def _name(r: np.random.Generator, syllables: int) -> str:
    parts = []
    for _ in range(syllables):
        parts.append(_ONSET[r.integers(len(_ONSET))] + _VOWEL[r.integers(len(_VOWEL))]
                     + _CODA[r.integers(len(_CODA))])
    return "".join(parts)


def surface_families(seed: int, n_entities: int, n_tickets: int) -> tuple[list[str], list[int]]:
    """(surfaces, family ids). Each person entity has its TitleCase name
    plus, with some probability, a dash handle (same normal form), an
    initial+surname handle and a one-letter typo; a share of entities
    are same-surname siblings of an earlier entity (distractors that
    sit near the link threshold). Tickets are singleton families."""
    r = _rng(seed, _S_CHAT)
    surfaces: list[str] = []
    fams: list[int] = []
    seen: set[str] = set()
    lasts: list[str] = []

    def add(s: str, fam: int) -> None:
        if s not in seen:
            seen.add(s)
            surfaces.append(s)
            fams.append(fam)

    for fam in range(n_entities):
        first = _name(r, int(r.integers(1, 3))) if r.random() < 0.5 else _name(r, 2)
        if lasts and r.random() < 0.15:
            last = lasts[int(r.integers(len(lasts)))]
        else:
            last = _name(r, int(r.integers(2, 4)))
            lasts.append(last)
        add(f"{first.title()} {last.title()}", fam)
        if r.random() < 0.5:
            add(f"@{first}-{last}", fam)
        if r.random() < 0.4:
            add(f"@{first[0]}{last}", fam)
        if r.random() < 0.4 and len(last) > 4:
            i = int(r.integers(1, len(last) - 1))
            add(f"{first.title()} {(last[:i] + last[i + 1:]).title()}", fam)
    for t in range(n_tickets):
        proj = _TICKET_PROJECTS[int(r.integers(len(_TICKET_PROJECTS)))]
        add(f"{proj}-{int(r.integers(100, 100000))}", n_entities + t)
    return surfaces, fams


def chat_transcripts(
    seed: int, path: str, n_turns: int, n_entities: int, n_tickets: int,
    max_mentions: int = 300, hot_entities: int = 20, hot_share: float = 0.25,
) -> dict:
    """Write short mention-dense turns to `path` (transcripts schema).

    Mentions per turn: 1 + zipf(2.1), capped at `max_mentions`. Each
    mention picks a hot entity with probability `hot_share`, else a
    uniform entity, then one of that entity's surfaces. Mentions are
    comma-separated so TitleCase names never run together."""
    surfaces, fams = surface_families(seed, n_entities, n_tickets)
    by_fam: dict[int, list[int]] = {}
    for i, f in enumerate(fams):
        by_fam.setdefault(f, []).append(i)
    fam_ids = np.array(sorted(by_fam))
    r = _rng(seed, _S_CHAT + 100)
    hot = r.choice(fam_ids, size=hot_entities, replace=False)
    k = np.minimum(1 + r.zipf(2.1, n_turns), max_mentions)
    total = int(k.sum())
    fam_pick = np.where(r.random(total) < hot_share,
                        hot[r.integers(0, hot_entities, total)],
                        fam_ids[r.integers(0, len(fam_ids), total)])
    surf_pick = [by_fam[int(f)][int(x * len(by_fam[int(f)]))]
                 for f, x in zip(fam_pick, r.random(total))]
    turns_per_conv = 8
    conv, idx, role, text = [], [], [], []
    pos = 0
    filler = np.array(_FILLER)
    for t in range(n_turns):
        n = int(k[t])
        ments = ", ".join(surfaces[s] for s in surf_pick[pos:pos + n])
        pos += n
        words = " ".join(filler[r.integers(0, len(filler), 4)])
        tail = ""
        if r.random() < 0.5:
            tail = f" then {_CALLS[int(r.integers(len(_CALLS)))]} failed"
        conv.append(f"chat-{t // turns_per_conv}")
        idx.append(t % turns_per_conv)
        role.append("user" if t % 2 == 0 else "assistant")
        text.append(f"{words} {ments} and {words}{tail}")
    table = pa.table({
        "conv_id": pa.array(conv, pa.string()),
        "turn_idx": pa.array(np.array(idx, np.int32)),
        "role": pa.array(role, pa.string()),
        "text": pa.array(text, pa.string()),
        "tool": pa.array([None] * n_turns, pa.string()),
        "ts": _ts(np.arange(n_turns)),
    })
    nbytes = _write(table, path)
    return {
        "surface_family": dict(zip(surfaces, fams)),
        "props": {
            "turns": n_turns,
            "input_bytes": nbytes,
            "vocabulary_surfaces": len(surfaces),
            "distinct_surfaces_mentioned": len(set(surf_pick)),
            "mentions": total,
            "max_mentions_per_turn": int(k.max()),
            "p99_mentions_per_turn": float(np.percentile(k, 99)),
            "hot_entity_share": round(float(np.isin(fam_pick, hot).mean()), 4),
            "gram_collision_rows_per_surface": gram_collision_rows(surfaces),
        },
    }


def chat_delta(seed: int, base_path: str, path: str, share: float = 0.02) -> dict:
    """Write the base corpus plus a seeded delta to `path`: one to
    three turns appended to `share`/2 of the base conversations, and
    `share`/2 as many new conversations of eight turns. Delta texts are
    drawn from base turns, so they mention the same vocabulary."""
    base = pq.read_table(base_path)
    r = _rng(seed, _S_DELTA)
    conv = base.column("conv_id").to_pylist()
    idx = base.column("turn_idx").to_pylist()
    texts = base.column("text").to_pylist()
    last: dict[str, int] = {}
    for c, i in zip(conv, idx):
        last[c] = max(i, last.get(c, -1))
    names = sorted(last)
    n_touch = max(1, round(len(names) * share / 2))
    rows = []
    for c in sorted(r.choice(names, size=n_touch, replace=False).tolist()):
        for j in range(int(r.integers(1, 4))):
            rows.append((c, last[c] + 1 + j))
    for k in range(n_touch):
        rows += [(f"chat-new-{k}", j) for j in range(8)]
    picks = r.integers(0, len(texts), len(rows))
    delta = pa.table({
        "conv_id": pa.array([c for c, _ in rows], pa.string()),
        "turn_idx": pa.array(np.array([i for _, i in rows], np.int32)),
        "role": pa.array(["user" if i % 2 == 0 else "assistant" for _, i in rows], pa.string()),
        "text": pa.array([texts[int(p)] for p in picks], pa.string()),
        "tool": pa.array([None] * len(rows), pa.string()),
        "ts": _ts(np.arange(base.num_rows, base.num_rows + len(rows))),
    })
    _write(pa.concat_tables([base, delta]), path)
    return {"delta_turns": len(rows), "conversations_touched": 2 * n_touch,
            "base_conversations": len(names)}


def neardup_documents(seed: int, path: str, n_docs: int, clique: int = 200) -> dict:
    """Write (doc_id, text) word documents to `path`.

    About a fifth of the non-clique documents are bases of planted
    families; each family adds one to three copies, each an exact copy
    or a near copy (one word replaced, or one appended). The rest are
    unique documents. `clique` short boilerplate documents share one
    six-word phrase and differ in four random words: far below any
    near-duplicate threshold, but they crowd the minhash band buckets
    the phrase wins. Words are lower-case and single-spaced, so word
    shingles are the same in Python and in the engine."""
    r = _rng(seed, _S_NEARDUP)
    vocab = sorted({_name(r, int(r.integers(2, 4))) for _ in range(4000)})
    boiler = "please subscribe to our weekly newsletter".split()

    def words(lo: int, hi: int) -> list[str]:
        return [vocab[int(i)] for i in r.integers(0, len(vocab), int(r.integers(lo, hi)))]

    texts: list[str] = []
    family: list[int] = []  # -1: unique, -2: clique, else family id
    n_free = n_docs - clique
    fam = 0
    while len(texts) < n_free:
        w = words(30, 90)
        if r.random() < 0.2:
            texts.append(" ".join(w))
            family.append(fam)
            for _ in range(int(r.integers(1, 4))):
                v = list(w)
                kind = r.random()
                if kind < 0.35:
                    v[int(r.integers(len(v)))] = vocab[int(r.integers(len(vocab)))]
                elif kind < 0.7:
                    v.append(vocab[int(r.integers(len(vocab)))])
                texts.append(" ".join(v))
                family.append(fam)
            fam += 1
        else:
            texts.append(" ".join(w))
            family.append(-1)
    for _ in range(clique):
        texts.append(" ".join(boiler + words(4, 5)))
        family.append(-2)
    order = r.permutation(len(texts))
    texts = [texts[i] for i in order]
    family = [family[i] for i in order]
    table = pa.table({
        "doc_id": pa.array(np.arange(len(texts), dtype=np.int64)),
        "text": pa.array(texts, pa.string()),
    })
    nbytes = _write(table, path)
    return {
        "texts": texts,
        "family": family,
        "props": {"documents": len(texts), "input_bytes": nbytes, "families": fam,
                  "family_documents": sum(1 for f in family if f >= 0),
                  "clique_documents": clique},
    }


def gram_collision_rows(surfaces: list[str]) -> float:
    """Mean rows the exact link join emits per surface: for each char
    3-gram of the normalized surfaces, df·(df−1)/2 pairs, summed and
    divided by the surface count (the same normalization and padding as
    operators.link)."""
    from collections import Counter

    from checks import char_grams

    df = Counter(g for s in surfaces for g in char_grams(s))
    pairs = sum(d * (d - 1) // 2 for d in df.values())
    return round(pairs / max(1, len(surfaces)), 2)


def queries(seed: int, vocabulary: list[str], n: int, oov_share: float = 0.3) -> list[str]:
    """Seeded search strings: in-vocabulary surfaces (some lower-cased or
    truncated, as users type them) and out-of-vocabulary strings."""
    r = _rng(seed, _S_QUERY)
    out = []
    for _ in range(n):
        if r.random() < oov_share:
            out.append(" ".join(_name(r, 2) for _ in range(2)))
            continue
        s = vocabulary[int(r.integers(len(vocabulary)))]
        if r.random() < 0.3:
            s = s.lower()
        elif r.random() < 0.3 and len(s) > 6:
            s = s[: len(s) - 2]
        out.append(s)
    return out
