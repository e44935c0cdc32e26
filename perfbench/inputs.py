"""Deterministic benchmark inputs, all derived from the workload seed.

The program under test receives only what this module generates: the
transcript corpus, the schedule of RecentChanges-shaped deltas and the
schedule of graph reads (which canonical ids and conversation ids each
read uses).  The same seed gives the same inputs, byte for byte, and
the same :func:`fingerprint`.
"""

from __future__ import annotations

import hashlib
import itertools
import random
from dataclasses import dataclass, field
from datetime import timedelta

from lexicator_spark import rules, synth

# Corpus size in turns.  The corpus is grown conversation by
# conversation until it reaches this many turns, so every seed builds
# a graph of the same size and build latency compares across seeds.
CORPUS_TURNS = 1_000
DELTA_CONVS = 10  # conversations touched by one refresh delta
DELTA_TURNS_PER_CONV = 4  # cap on new turns appended to one conversation
N_DELTAS = 40  # more than any run applies
N_CYCLES = 40  # read batches; one follows every write operation
LOOKUPS_PER_CYCLE = 10
CONVS_PER_CYCLE = 10
HOP2_PER_CYCLE = 2  # read in traced cycles only

CANONICAL_IDS = sorted(rules.ENTITY_ALIASES)


def derived_seed(seed: int, label: str) -> int:
    """A 63-bit seed for one sub-stream of the workload seed, stable
    across processes (no dependence on ``PYTHONHASHSEED``)."""
    digest = hashlib.sha256(f"{seed}/{label}".encode()).digest()
    return int.from_bytes(digest[:8], "big") >> 1


@dataclass
class Inputs:
    seed: int
    corpus: synth.Corpus  # base snapshot, rows in conversation order
    deltas: list[list[tuple]] = field(default_factory=list)  # new turn rows
    reads: list[list[tuple[str, str]]] = field(default_factory=list)

    @property
    def multi_turn_conv_ids(self) -> list[str]:
        """Conversations with a second turn, hence a ``replies_to``
        triple: the ones a conversation read can find."""
        return sorted({r[0] for r in self.corpus.rows if r[1] > 0})

    def snapshot(self, n_deltas: int) -> list[tuple]:
        """The corpus after the first ``n_deltas`` deltas."""
        rows = list(self.corpus.rows)
        for delta in self.deltas[:n_deltas]:
            rows.extend(delta)
        return rows


def make_corpus(seed: int, target_turns: int) -> synth.Corpus:
    """The shortest ``synth.make_corpus(n, seed)`` prefix holding at
    least ``target_turns`` turns.  ``make_corpus`` draws conversations
    in order from one generator, so a smaller ``n`` is an exact prefix
    of a larger one; the second call recomputes the golden triples of
    exactly the chosen conversations."""
    upper = synth.make_corpus(n_convs=target_turns, seed=seed, shuffled=False)
    seen: set[str] = set()
    for turns, row in enumerate(upper.rows, start=1):
        seen.add(row[0])
        if turns >= target_turns:
            break
    return synth.make_corpus(n_convs=len(seen), seed=seed, shuffled=False)


def _mention_surfaces(golden: set, uris: set | None = None) -> set[str]:
    return {
        obj for subj, pred, obj in golden
        if pred == rules.PRED_MENTIONS and (uris is None or subj in uris)
    }


def make_deltas(seed: int, corpus: synth.Corpus, n_deltas: int) -> list[list[tuple]]:
    """Each delta appends up to ``DELTA_TURNS_PER_CONV`` turns to each of
    ``DELTA_CONVS`` existing conversations, re-keyed after the
    conversation's current last turn.  The turn texts come from
    ``synth.make_corpus`` under a derived seed, redrawn until they
    mention no surface the graph has not seen.  So no delta changes the
    link set: every delta takes the same refresh path (extract,
    materialize, entities) and costs the same on every seed, which the
    few deltas of a run need.  A link-changing delta also runs the
    incremental Stage B/C and costs about twice as much (16 s against
    9 s on 4 cores), more than the run budget holds."""
    last: dict[str, tuple[int, object]] = {}
    for conv_id, turn_idx, _role, _text, _tool, ts in corpus.rows:
        if conv_id not in last or turn_idx > last[conv_id][0]:
            last[conv_id] = (turn_idx, ts)
    conv_ids = sorted(last)
    seen = _mention_surfaces(corpus.golden)
    rng = random.Random(derived_seed(seed, "delta-convs"))
    deltas = []
    for d in range(n_deltas):
        chosen = rng.sample(conv_ids, DELTA_CONVS)
        for attempt in itertools.count():
            src = synth.make_corpus(
                n_convs=DELTA_CONVS,
                seed=derived_seed(seed, f"delta-{d}-{attempt}"),
                shuffled=False,
            )
            by_conv: dict[str, list[tuple]] = {}
            for row in src.rows:
                by_conv.setdefault(row[0], []).append(row)
            kept = [r for c in sorted(by_conv) for r in by_conv[c][:DELTA_TURNS_PER_CONV]]
            new = _mention_surfaces(
                src.golden, {rules.turn_uri(r[0], r[1]) for r in kept}
            ) - seen
            if not new:
                break
        rows = []
        for conv_id, src_conv in zip(chosen, sorted(by_conv)):
            idx, ts = last[conv_id]
            for _cid, _idx, role, text, tool, _ts in by_conv[src_conv][
                :DELTA_TURNS_PER_CONV
            ]:
                idx += 1
                ts += timedelta(seconds=rng.randrange(1, 120))
                rows.append((conv_id, idx, role, text, tool, ts))
            last[conv_id] = (idx, ts)
        deltas.append(rows)
    return deltas


def make_reads(seed: int, conv_ids: list[str], n_cycles: int) -> list[list[tuple[str, str]]]:
    """One read batch per cycle: ``LOOKUPS_PER_CYCLE`` entity lookups,
    ``CONVS_PER_CYCLE`` conversation reads and ``HOP2_PER_CYCLE`` 2-hop
    reads, in a seeded order."""
    rng = random.Random(derived_seed(seed, "reads"))
    batches = []
    for _ in range(n_cycles):
        batch = [("lookup", rng.choice(CANONICAL_IDS)) for _ in range(LOOKUPS_PER_CYCLE)]
        batch += [("conv", rng.choice(conv_ids)) for _ in range(CONVS_PER_CYCLE)]
        batch += [("hop2", rng.choice(CANONICAL_IDS)) for _ in range(HOP2_PER_CYCLE)]
        rng.shuffle(batch)
        batches.append(batch)
    return batches


def generate(seed: int, target_turns: int = CORPUS_TURNS) -> Inputs:
    corpus = make_corpus(seed, target_turns)
    inputs = Inputs(seed=seed, corpus=corpus)
    inputs.deltas = make_deltas(seed, corpus, N_DELTAS)
    inputs.reads = make_reads(seed, inputs.multi_turn_conv_ids, N_CYCLES)
    return inputs


def fingerprint(inputs: Inputs) -> str:
    """sha256 over every generated input, in generation order."""
    h = hashlib.sha256()
    for part in (inputs.corpus.rows, sorted(inputs.corpus.golden), inputs.deltas, inputs.reads):
        h.update(repr(part).encode())
    return h.hexdigest()
