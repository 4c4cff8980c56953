"""Seeded transcript corpora for the benchmark.

The program under test sees only what this module writes: a parquet
file in the transcript schema, read back through
``sources.transcripts.load_transcripts``. Rows come from the engine's
own generator, ``core.gen``: ``turns_in_conversation`` gives the
4..17 turn spread and the mega-conversation, and ``turn_row`` gives
each turn's text, role and tool. The seed moves the conversations to
a block of ``turn_row`` indexes of its own, so each seed gives other
texts but the same number of turns. Everything this module adds is a
function of (``CorpusSpec``, seed).

The properties the engine's cost depends on are explicit knobs:

* ``mega_share``: share of all turns held by conversation 0, the skew
  case the chunker's mega-conversation path exists for;
* ``id_space``: how many pattern entities (``EMP-00123``) exist, which
  sets the catalog size and the work left to linking and
  canonicalization. The alias share is not a knob: ``turn_row`` fixes
  it (two in three pattern mentions use a non-canonical surface form),
  and changing it would mean changing the engine's generator;
* ``dup_share``: share of conversations that repeat an earlier one
  verbatim, so their chunks share content-hash ids and extraction runs
  once per distinct text;
* ``delta_fraction``: share of conversations whose last turn the
  second snapshot drops (the incremental workload's change set; see
  ``delta_convs`` for which conversations qualify).
"""

from __future__ import annotations

import random
from dataclasses import dataclass

import pyarrow as pa
import pyarrow.parquet as pq

from graph_rag_agent_spark.core.gen import conv_id_for, turn_row, turns_in_conversation
from graph_rag_agent_spark.core.records import parse_extraction
from graph_rag_agent_spark.core.stub_extract import stub_extract
from graph_rag_agent_spark.core.textchunk import chunk_text, conversation_text

_SCHEMA = pa.schema(
    [
        ("conv_id", pa.string()),
        ("turn_idx", pa.int32()),
        ("role", pa.string()),
        ("text", pa.string()),
        ("tool", pa.string()),
        ("ts", pa.timestamp("us", tz="UTC")),
    ]
)

# seeds map to blocks of turn_row indexes modulo this many blocks, which
# keeps turn_row's timestamps (one hour per index) within datetime's range
SEED_BLOCKS = 100_000


@dataclass(frozen=True)
class CorpusSpec:
    n_convs: int
    mega_share: float = 0.1
    id_space: int = 200
    dup_share: float = 0.0
    delta_fraction: float = 0.01


def generate(spec: CorpusSpec, seed: int) -> dict[str, list]:
    """Snapshot A as columns: ``n_convs`` conversations, conversation 0
    holding ``mega_share`` of the turns, about ``dup_share`` of the
    others copying an earlier conversation of the same length."""
    rng = random.Random(seed)
    counts = [turns_in_conversation(c, spec.n_convs, spec.mega_share) for c in range(spec.n_convs)]
    n_dups = round(spec.dup_share * spec.n_convs)
    dups = set(rng.sample(range(2, spec.n_convs), n_dups)) if n_dups else set()
    block = (seed % SEED_BLOCKS) * spec.n_convs

    cols: dict[str, list] = {f.name: [] for f in _SCHEMA}
    for c, n in enumerate(counts):
        source = c
        sources = [j for j in range(1, c) if j not in dups and counts[j] == n]
        if c in dups and sources:
            source = rng.choice(sources)
        for t in range(n):
            row = turn_row(block + source, t, spec.id_space)
            row["conv_id"] = conv_id_for(c)
            for k in cols:
                cols[k].append(row[k])
    return cols


def _entities(text: str) -> list[tuple[str, str, str]]:
    """(entity_id, entity_type, description) the stub extractor finds
    in one chunk's text."""
    return parse_extraction(stub_extract(text))[0]


def _catalog(chunk_entities: dict[str, list[list[tuple]]]) -> dict[str, tuple]:
    """The pre-link entity catalog: per entity id, the (type,
    description) of its first mention in (conv_id, position) order,
    as ``operators.linking.entity_catalog`` resolves it."""
    first: dict[str, tuple] = {}
    for conv in sorted(chunk_entities):
        for nodes in chunk_entities[conv]:
            for eid, etype, desc in nodes:
                first.setdefault(eid, (etype, desc))
    return first


def delta_convs(spec: CorpusSpec, seed: int, cols: dict[str, list]) -> list[str]:
    """The conversations snapshot B changes: exactly
    ``max(1, round(delta_fraction * n_convs))`` of them, drawn with
    their own stream from the unduplicated, non-mega conversations
    that make a single chunk and whose last turn mentions entities,
    each of which keeps its catalog row without that turn.

    Each change then replaces exactly one chunk, so a cycle's model
    calls equal the count, and changes that chunk's mentions but not
    the entity catalog. So every cycle of every seed takes the same
    path, reusing the stored linking tables. A change that alters the
    catalog re-runs linking and MERGEs the linking side tables, about
    a third more per cycle; mixing the two paths across seeds split
    the cycle times into two clusters.
    """
    turns: dict[str, list[str]] = {}
    for conv, text in zip(cols["conv_id"], cols["text"]):
        turns.setdefault(conv, []).append(text)
    copies: dict[tuple, int] = {}
    for texts in turns.values():
        copies[tuple(texts)] = copies.get(tuple(texts), 0) + 1
    chunks = {
        conv: [c["text"] for c in chunk_text(conversation_text(texts))]
        for conv, texts in turns.items()
    }
    entities = {conv: [_entities(t) for t in texts] for conv, texts in chunks.items()}
    catalog = _catalog(entities)

    def same_path(conv: str) -> bool:
        dropped = _entities(chunk_text(conversation_text(turns[conv][:-1]))[0]["text"])
        return (
            dropped != entities[conv][0]
            and _catalog({**entities, conv: [dropped]}) == catalog
        )

    eligible = sorted(
        conv
        for conv, texts in turns.items()
        if conv != conv_id_for(0)
        and copies[tuple(texts)] == 1
        and len(chunks[conv]) == 1
        and same_path(conv)
    )
    k = max(1, round(spec.delta_fraction * spec.n_convs))
    if len(eligible) < k:
        raise ValueError(f"only {len(eligible)} conversations can take the delta, need {k}")
    return sorted(random.Random(f"delta-{seed}").sample(eligible, k))


def drop_last_turns(cols: dict[str, list], conv_ids: list[str]) -> dict[str, list]:
    """Snapshot B: snapshot A without the last turn of ``conv_ids``."""
    targets = set(conv_ids)
    last: dict[str, int] = {}
    for conv, t in zip(cols["conv_id"], cols["turn_idx"]):
        if conv in targets:
            last[conv] = max(last.get(conv, -1), t)
    keep = [
        i
        for i, (conv, t) in enumerate(zip(cols["conv_id"], cols["turn_idx"]))
        if last.get(conv) != t
    ]
    return {k: [v[i] for i in keep] for k, v in cols.items()}


def write_parquet(cols: dict[str, list], path: str) -> None:
    pq.write_table(pa.table(cols, schema=_SCHEMA), path)


def rows(cols: dict[str, list]) -> list[dict]:
    """Row dicts, the shape ``oracle.pipeline_oracle`` takes."""
    names = list(cols)
    return [dict(zip(names, vals)) for vals in zip(*cols.values())]
