"""Seeded input generators for the benchmark workloads.

Every generator is a pure function of its seed and size arguments and
uses only numpy/pyarrow, never the package under test, so a change to
``batch_import_spark`` cannot change what the benchmark feeds it. Each
generator also returns the expected outputs in closed form: which
mentions were planted and how the reference's linking rules resolve
them (a surface shared by two entities is ambiguous and never links; an
entity's canonical surface is the lexicographic minimum of its unique
surfaces).
"""

from __future__ import annotations

import hashlib
import os
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

# The extraction grammar the package implements: "<Subj> <phrase> <Obj>."
PHRASES = ["works at", "manages", "uses", "reports to", "located in"]
PREDICATES = ["works_at", "manages", "uses", "reports_to", "located_in"]
FILLER = (
    "ok let me check the plan and rerun the failing step first "
    "then we compare the output against the expected table rows"
).split()
ROLES = ["user", "assistant", "tool"]
TOOLS = ["search", "code", "browser"]
FILLER_WORDS = 6  # filler words appended to every turn

# Shape of a transcript set: turns per conversation are uniform around
# MEDIAN_TURNS, except one conversation (chosen by the seed) that is
# HOT_FACTOR x the median; GHOST_RATE of subjects are surfaces absent
# from the alias table and AMBIGUOUS_RATE ambiguous ones, both of which
# must be skipped and counted.
MEDIAN_TURNS = 16
HOT_FACTOR = 100
GHOST_RATE = 0.08
AMBIGUOUS_RATE = 0.04
TRANSCRIPT_FILES = 8

# Reference-format CSV graph: share of node names planted twice
# (ambiguous in the index) and of relationship endpoints naming no node.
DUP_RATE = 0.01
DANGLING_RATE = 0.02

ALIAS_SCHEMA = pa.schema(
    [
        ("index_name", pa.string()),
        ("key_prop", pa.string()),
        ("key_value", pa.string()),
        ("score", pa.float64()),
        ("kind", pa.string()),
        ("entity_id", pa.int64()),
    ]
)


def _cell(v) -> str:
    # a float's last digits depend on summation order; compare 9 digits
    return f"{v:.9g}" if isinstance(v, float) else str(v)


def digest(rows) -> str:
    """Order-free digest of an iterable of tuples."""
    lines = sorted("\t".join(_cell(v) for v in r) for r in rows)
    return hashlib.sha256("\n".join(lines).encode()).hexdigest()


def dir_size(path: str) -> tuple[int, int]:
    """(data files, bytes) under ``path``, ignoring Spark's markers."""
    n = size = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            if f.startswith(("_", ".")):
                continue
            n += 1
            size += os.path.getsize(os.path.join(root, f))
    return n, size


# --- vocabularies ------------------------------------------------------


@dataclass
class Vocabulary:
    """An alias table plus the closed-form linking it implies."""

    alias: list[tuple[str, int]]  # distinct (surface, entity_id) rows
    known: list[str]  # surfaces mentions draw from
    ghosts: list[str]  # surfaces absent from the alias table
    ambiguous: list[str]  # surfaces mapped to two entities
    canon: dict[str, str] = field(init=False)  # surface → canonical surface

    def __post_init__(self):
        ents: dict[str, set] = {}
        for s, e in self.alias:
            ents.setdefault(s, set()).add(e)
        unique = {s: next(iter(es)) for s, es in ents.items() if len(es) == 1}
        best: dict[int, str] = {}
        for s, e in unique.items():
            if e not in best or s < best[e]:
                best[e] = s
        self.canon = {s: best[e] for s, e in unique.items()}

    @property
    def n_nodes(self) -> int:
        return len(set(self.canon.values()))


def builtin_vocabulary() -> Vocabulary:
    """~130 rows, the shape of the CLI's built-in dictionary: 40 people
    and 12 orgs with a short alias each, 8 tools, one ambiguous surface."""
    alias = []
    for k in range(40):
        alias += [(f"Person{k}", k), (f"P{k}", k)]
    for k in range(12):
        alias += [(f"Org{k}", 1000 + k), (f"O{k}", 1000 + k)]
    for k in range(8):
        alias.append((f"Tool{k}", 2000 + k))
    alias += [("Amb", 0), ("Amb", 1)]
    known = [s for s, _ in alias if s != "Amb"]
    return Vocabulary(alias, known, [f"Ghost{k}" for k in range(6)], ["Amb"])


def write_alias(vocab: Vocabulary, path: str, seed: int) -> int:
    """Stage the alias table (with duplicate rows, which must not change
    anything) as Parquet; returns the row count."""
    rng = np.random.default_rng([seed, 11])
    rows = list(vocab.alias)
    dup = rng.integers(0, len(rows), size=max(1, len(rows) // 50))
    rows += [rows[i] for i in dup]
    table = pa.table(
        {
            "index_name": ["surfaces"] * len(rows),
            "key_prop": ["surface"] * len(rows),
            "key_value": [s for s, _ in rows],
            "score": [1.0] * len(rows),
            "kind": ["Entity"] * len(rows),
            "entity_id": [e for _, e in rows],
        },
        schema=ALIAS_SCHEMA,
    )
    os.makedirs(path, exist_ok=True)
    pq.write_table(table, os.path.join(path, "part-0.parquet"))
    return len(rows)


# --- transcripts -------------------------------------------------------


@dataclass
class Transcripts:
    """What a transcript set's KG must contain, plus its staged size."""

    n_turns: int
    n_mentions: int
    n_linked: int
    triples: list[tuple[str, str, str, int]]  # (subj, pred, obj, n_occurrences)
    bytes: int = 0

    @property
    def digest(self) -> str:
        return digest(self.triples)

    @property
    def n_occurrences(self) -> int:
        return self.n_linked


@dataclass
class _Planted:
    turns: np.ndarray  # turns per conversation
    k: np.ndarray  # planted sentences per turn
    surfaces: np.ndarray  # known + ghost + ambiguous surfaces
    subj: np.ndarray  # per mention: index into surfaces
    pred: np.ndarray  # per mention: index into PHRASES
    obj: np.ndarray


def _plant(vocab: Vocabulary, rng: np.random.Generator, n_convs: int) -> _Planted:
    """Conversation lengths and planted mentions, about 1.1 sentences per
    turn (see MEDIAN_TURNS and the rates above)."""
    half = MEDIAN_TURNS // 2
    turns = rng.integers(half + 1, MEDIAN_TURNS + half + 1, n_convs)
    turns[rng.integers(0, n_convs)] = MEDIAN_TURNS * HOT_FACTOR
    k = rng.choice([0, 1, 2, 3], size=int(turns.sum()), p=[0.3, 0.4, 0.2, 0.1])
    m = int(k.sum())
    surfaces = np.array(vocab.known + vocab.ghosts + vocab.ambiguous, dtype=object)
    n_known, n_ghost = len(vocab.known), len(vocab.ghosts)
    gate = rng.random(m)
    subj = rng.integers(0, n_known, m)
    subj = np.where(gate < GHOST_RATE, n_known + rng.integers(0, n_ghost, m), subj)
    amb_hit = (gate >= GHOST_RATE) & (gate < GHOST_RATE + AMBIGUOUS_RATE)
    subj = np.where(
        amb_hit, n_known + n_ghost + rng.integers(0, len(vocab.ambiguous), m), subj
    )
    obj = rng.integers(0, n_known, m)
    pred = rng.integers(0, len(PHRASES), m)
    return _Planted(turns, k, surfaces, subj, pred, obj)


def _expected(vocab: Vocabulary, p: _Planted) -> Transcripts:
    """Closed-form KG of the planted mentions: resolve both endpoints."""
    canon_names = sorted(set(vocab.canon.values()))
    canon_pos = {c: i for i, c in enumerate(canon_names)}
    canon_idx = np.array(
        [canon_pos[vocab.canon[s]] if s in vocab.canon else -1 for s in p.surfaces]
    )
    cs, co = canon_idx[p.subj], canon_idx[p.obj]
    linked = (cs >= 0) & (co >= 0)
    n_c, n_p = len(canon_names), len(PHRASES)
    key = (cs[linked] * n_p + p.pred[linked]) * n_c + co[linked]
    keys, counts = np.unique(key, return_counts=True)
    triples = [
        (canon_names[kk // (n_p * n_c)], PREDICATES[(kk // n_c) % n_p],
         canon_names[kk % n_c], int(c))
        for kk, c in zip(keys.tolist(), counts.tolist())
    ]
    return Transcripts(
        n_turns=int(p.turns.sum()),
        n_mentions=len(p.subj),
        n_linked=int(linked.sum()),
        triples=triples,
    )


def write_transcripts(vocab: Vocabulary, path: str, seed: int, n_convs: int) -> Transcripts:
    """Stage a transcripts table (conv_id, turn_idx, role, text, tool, ts)
    as TRANSCRIPT_FILES Parquet files of contiguous conversations. A
    turn's text is its planted sentences, then filler words."""
    rng = np.random.default_rng([seed, 3])
    p = _plant(vocab, rng, n_convs)
    n_turns = int(p.turns.sum())
    conv_of = np.repeat(np.arange(n_convs), p.turns)
    turn_idx = np.arange(n_turns) - np.repeat(np.cumsum(p.turns) - p.turns, p.turns)

    surfaces = pa.array(p.surfaces.tolist(), pa.string())
    sentences = pc.binary_join_element_wise(
        surfaces.take(p.subj),
        pa.array(PHRASES).take(p.pred),
        pc.binary_join_element_wise(surfaces, ".", "").take(p.obj),
        " ",
    )
    offsets = pa.array(np.concatenate([[0], np.cumsum(p.k)]), pa.int32())
    planted = pc.binary_join(pa.ListArray.from_arrays(offsets, sentences), " ")
    words = pa.array(FILLER)
    fw = rng.integers(0, len(FILLER), size=(n_turns, FILLER_WORDS))
    filler = pc.binary_join_element_wise(*(words.take(fw[:, j]) for j in range(FILLER_WORDS)), " ")
    text = pc.if_else(
        pa.array(p.k > 0), pc.binary_join_element_wise(planted, filler, " "), filler
    )

    role = rng.integers(0, 3, n_turns)
    tool = rng.integers(0, 3, n_turns)
    conv_ids = pa.array([f"conv{i:06d}" for i in range(n_convs)], pa.string())
    ts = (1735689600 + conv_of * 86400 + turn_idx * 60) * 1_000_000
    table = pa.table(
        {
            "conv_id": conv_ids.take(conv_of),
            "turn_idx": pa.array(turn_idx, pa.int32()),
            "role": pa.array(ROLES).take(role),
            "text": text,
            "tool": pc.if_else(pa.array(role == 2), pa.array(TOOLS).take(tool), None),
            "ts": pa.array(ts, pa.timestamp("us", tz="UTC")),
        }
    )
    os.makedirs(path, exist_ok=True)
    bounds = np.searchsorted(conv_of, np.linspace(0, n_convs, TRANSCRIPT_FILES + 1)[1:-1])
    cuts = [0, *bounds.tolist(), n_turns]
    for i in range(TRANSCRIPT_FILES):
        pq.write_table(
            table.slice(cuts[i], cuts[i + 1] - cuts[i]),
            os.path.join(path, f"part-{i:03d}.parquet"),
        )
    tx = _expected(vocab, p)
    tx.bytes = dir_size(path)[1]
    return tx


def write_kg_edges(vocab: Vocabulary, path: str, seed: int, n_convs: int) -> Transcripts:
    """Stage, from its closed form, the KG edge table (subj, pred, obj,
    n_occurrences) that the kg job builds from ``write_transcripts``'
    inputs for the same seed."""
    tx = _expected(vocab, _plant(vocab, np.random.default_rng([seed, 3]), n_convs))
    subj, pred, obj, n = zip(*tx.triples)
    os.makedirs(path, exist_ok=True)
    pq.write_table(
        pa.table(
            {
                "subj": pa.array(subj, pa.string()),
                "pred": pa.array(pred, pa.string()),
                "obj": pa.array(obj, pa.string()),
                "n_occurrences": pa.array(n, pa.int64()),
            }
        ),
        os.path.join(path, "part-0.parquet"),
    )
    tx.bytes = dir_size(path)[1]
    return tx


# --- reference-format CSV ----------------------------------------------

NODES_HEADER = "name:string:users\tage:int\tkind:label"
RELS_HEADER = "name:string:users\tname:string:users\ttype\tsince:int"
LABELS = ["Person", "Person,User", "User"]
REL_TYPES = ["KNOWS", "FOLLOWS", "LIKES"]


@dataclass
class CsvGraph:
    n_nodes: int
    n_rels: int
    n_skipped: int
    nodes_digest: str  # (node_id, name, age)
    edges_digest: str  # (rel_id, src_id, dst_id, rel_type, since)
    rows: dict
    bytes: dict


def write_csv_graph(
    nodes_path: str,
    rels_path: str,
    seed: int,
    n_nodes: int,
    n_rels: int,
) -> CsvGraph:
    """Stage reference-format ``nodes.csv`` / ``rels.csv`` (TAB, header
    row = schema). Node names are the ``users`` index keys; some names
    are planted twice (ambiguous in the index) and some relationship
    endpoints name no node (dangling). Both kinds of relationship must be
    skipped and counted."""
    rng = np.random.default_rng([seed, 5])
    ids = rng.permutation(n_nodes * 4)[:n_nodes]
    names = np.array([f"user{i}" for i in ids.tolist()], dtype=object)
    dup = rng.choice(np.arange(1, n_nodes), size=int(n_nodes * DUP_RATE), replace=False)
    names[dup] = names[rng.integers(0, dup)]
    ages = rng.integers(18, 90, n_nodes)
    kinds = rng.integers(0, len(LABELS), n_nodes)
    with open(nodes_path, "w") as f:
        f.write(NODES_HEADER + "\n")
        f.write(
            "".join(
                f"{n}\t{a}\t{LABELS[k]}\n"
                for n, a, k in zip(names.tolist(), ages.tolist(), kinds.tolist())
            )
        )

    src = rng.integers(0, n_nodes, n_rels)
    dst = rng.integers(0, n_nodes, n_rels)
    src_name = names[src].copy()
    dst_name = names[dst].copy()
    dangling = rng.random(n_rels) < DANGLING_RATE
    side = rng.random(n_rels) < 0.5
    ghost = np.array([f"ghost{i}" for i in range(n_rels)], dtype=object)
    src_name[dangling & side] = ghost[dangling & side]
    dst_name[dangling & ~side] = ghost[dangling & ~side]
    rtype = rng.integers(0, len(REL_TYPES), n_rels)
    since = rng.integers(1990, 2025, n_rels)
    with open(rels_path, "w") as f:
        f.write(RELS_HEADER + "\n")
        f.write(
            "".join(
                f"{a}\t{b}\t{REL_TYPES[t]}\t{s}\n"
                for a, b, t, s in zip(
                    src_name.tolist(), dst_name.tolist(), rtype.tolist(), since.tolist()
                )
            )
        )

    # index lookup with getSingle semantics: only names held by one node
    first: dict[str, int] = {}
    count: dict[str, int] = {}
    for i, n in enumerate(names.tolist()):
        first.setdefault(n, i)
        count[n] = count.get(n, 0) + 1
    lookup = {n: i for n, i in first.items() if count[n] == 1}
    edges = []
    for a, b, t, s in zip(src_name.tolist(), dst_name.tolist(), rtype.tolist(), since.tolist()):
        if a in lookup and b in lookup:
            edges.append((len(edges), lookup[a], lookup[b], REL_TYPES[t], s))
    return CsvGraph(
        n_nodes=n_nodes,
        n_rels=n_rels,
        n_skipped=n_rels - len(edges),
        nodes_digest=digest(zip(range(n_nodes), names.tolist(), ages.tolist())),
        edges_digest=digest(edges),
        rows={"nodes.csv": n_nodes, "rels.csv": n_rels},
        bytes={"nodes.csv": os.path.getsize(nodes_path), "rels.csv": os.path.getsize(rels_path)},
    )
