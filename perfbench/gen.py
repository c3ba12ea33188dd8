"""Seeded input generators.

The same seed gives identical tables; another seed gives different ones.
The program under test only ever receives the generated tables, never the
seed or the generator's bookkeeping (gold lists, day bounds).
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np
import pandas as pd

# ---------------------------------------------------------------------------
# transcripts (daily_append)
# ---------------------------------------------------------------------------


def transcripts(seed: int, n_convs: int, n_turns: int) -> pd.DataFrame:
    """Synthetic transcripts from the package's own fixture generator: a hub
    entity in ~30% of turns, duplicated turn rows, shuffled row order and a
    single-turn conversation. Conversation lengths are n_turns/2..n_turns."""
    from chronographer_spark.data.transcripts import generate_transcripts_pdf

    return generate_transcripts_pdf(
        n_convs=n_convs, n_turns=n_turns, seed=seed, hub_fraction=0.3
    )


def day_bounds(bootstrap_turns: int, day_turns: int, n_days: int) -> list[tuple[int, int]]:
    """Consecutive "days" of turns as [lo, hi) turn_idx ranges: day 0 (the
    bootstrap) holds turns [0, bootstrap_turns), each later day the next
    day_turns turns of every conversation long enough to have them. A day's
    bridge is turn lo-1, every conversation's last already-ingested turn."""
    bounds = [(0, bootstrap_turns)]
    for d in range(n_days):
        lo = bootstrap_turns + d * day_turns
        bounds.append((lo, lo + day_turns))
    return bounds


# ---------------------------------------------------------------------------
# generic KG + gold event list (search)
# ---------------------------------------------------------------------------

EX = "http://example.org/"
RDF_TYPE = "http://www.w3.org/1999/02/22-rdf-syntax-ns#type"
DATE = EX + "prop/date"
START_DATE = EX + "prop/startDate"
END_DATE = EX + "prop/endDate"
BIRTH_DATE = EX + "prop/birthDate"
PART_OF = EX + "prop/partOf"
LOCATION = EX + "prop/location"
COMMANDER = EX + "prop/commander"
RELATED_TO = EX + "prop/relatedTo"

EVENT = EX + "class/Event"
PLACE = EX + "class/Place"
PERSON = EX + "class/Person"
EVENT_KINDS = {
    "Battle": ["MilitaryConflict", "Event"],
    "Siege": ["MilitaryConflict", "Event"],
    "Treaty": ["Event"],
    "Uprising": ["SocialEvent", "Event"],
    "Assembly": ["SocialEvent", "Event"],
}
WINDOW = ("1789-01-01", "1804-12-31")

# Fixed tree shape, so every seed poses the same search problem and only
# names, dates, places, people and the background graph change.
N_CHILDREN = 6  # sub-events of the seed event
N_GRANDCHILDREN = 4  # sub-events of each child
N_DISTRACTORS = 2  # off-tree related events hung on each child


def letters(i: int) -> str:
    """Digit-free name for a node id: the search's year regex reads the
    first four-digit run of a URI as a year, so ids must not contain one."""
    s = ""
    while True:
        i, r = divmod(i, 26)
        s = chr(97 + r) + s
        if i == 0:
            return s
        i -= 1


@dataclass
class SearchKG:
    triples: pd.DataFrame  # subject, predicate, object
    pred_domain: list[tuple[str, list[str]]]
    pred_range: list[tuple[str, list[str]]]
    superclasses: list[tuple[str, list[str]]]
    seed_event: str
    gold: list[str]  # sorted admissible events of the seed's sub-event tree
    # sorted events a two-iteration search finds: gold plus the related
    # events of the expanded children (its false positives)
    found_after_two: list[str]


def search_kg(seed: int, n_background: int) -> SearchKG:
    """A generic KG around one seed event.

    - The seed event has N_CHILDREN sub-events (``partOf``), each with
      N_GRANDCHILDREN sub-events; one child and one grandchild per child
      are dated outside WINDOW, the rest inside it or undated.
    - Each child has N_DISTRACTORS ``relatedTo`` events that are not part
      of the tree (typed and in-window, so a search finds them: false
      positives) and one year-named sub-event outside the window (removed
      by the URI-year rule).
    - Events carry a kind typed under ``class/Event`` through a superclass
      closure, a place (one hub place in ~30% of events) and often a
      commander (a person with a birth date).
    - ``n_background`` further events form a separate sub-event forest over
      the same places and people.

    Gold is the seed's tree restricted to events dated inside WINDOW or
    undated (the seed included): the events a perfect search returns.

    A search from the seed expands it in iteration 1, then (the only
    priority-1 path) all admitted children in iteration 2, admitting their
    admitted sub-events and their related events: found_after_two."""
    rng = np.random.default_rng(seed)
    kinds = list(EVENT_KINDS)
    n_places, n_people = 200, 400
    places = [f"{EX}resource/Place_{letters(i)}" for i in range(n_places)]
    hub = places[0]
    people = [f"{EX}resource/Person_{letters(i)}" for i in range(n_people)]
    rows: list[tuple[str, str, str]] = []

    def iso(y, m, d):
        return f"{y:04d}-{m:02d}-{d:02d}"

    def date_in():
        return iso(int(rng.integers(1789, 1805)), int(rng.integers(1, 13)), int(rng.integers(1, 29)))

    def date_out():
        return iso(int(rng.integers(1815, 1840)), int(rng.integers(1, 13)), int(rng.integers(1, 29)))

    def event(uri: str, when: str | None, parent: str | None):
        rows.append((uri, RDF_TYPE, f"{EX}class/{kinds[int(rng.integers(len(kinds)))]}"))
        if when is not None:
            rows.append((uri, DATE, when))
        place = hub if rng.random() < 0.3 else places[int(rng.integers(1, n_places))]
        rows.append((uri, LOCATION, place))
        if rng.random() < 0.5:
            rows.append((uri, COMMANDER, people[int(rng.integers(n_people))]))
        if parent is not None:
            rows.append((uri, PART_OF, parent))

    names = iter(rng.permutation(N_CHILDREN * (N_GRANDCHILDREN + N_DISTRACTORS + 2) + 1))

    def fresh(prefix: str) -> str:
        return f"{EX}resource/{prefix}_{letters(int(next(names)))}"

    gold, related = [], []
    seed_event = fresh("Revolution")
    event(seed_event, date_in(), None)
    gold.append(seed_event)
    out_child = int(rng.integers(N_CHILDREN))
    for c in range(N_CHILDREN):
        child = fresh("Campaign")
        if c == out_child:
            event(child, date_out(), seed_event)
            continue  # discarded by date: its sub-events are never reached
        event(child, date_in() if rng.random() < 0.8 else None, seed_event)
        gold.append(child)
        out_gc = int(rng.integers(N_GRANDCHILDREN))
        for g in range(N_GRANDCHILDREN):
            gc = fresh("Action")
            if g == out_gc:
                event(gc, date_out(), child)
            else:
                event(gc, date_in() if rng.random() < 0.8 else None, child)
                gold.append(gc)
        for _ in range(N_DISTRACTORS):
            d = fresh("Incident")
            event(d, date_in(), None)
            rows.append((child, RELATED_TO, d))
            related.append(d)
        year = int(rng.integers(1850, 1900))
        event(f"{EX}resource/Battle_of_{year}_{letters(c)}", None, child)

    # background forest: same vocabulary, never linked to the seed's tree
    for i in range(n_background):
        uri = f"{EX}resource/Event_{letters(i)}"
        parent = f"{EX}resource/Event_{letters(int(rng.integers(i)))}" if i else None
        event(uri, date_in() if rng.random() < 0.7 else date_out(), parent)
    for p in places:
        rows.append((p, RDF_TYPE, PLACE))
    for p in people:
        rows.append((p, RDF_TYPE, PERSON))
        rows.append((p, BIRTH_DATE, date_in()))

    triples = pd.DataFrame(rows, columns=["subject", "predicate", "object"])
    # physically shuffled, like a KG dump with no useful order
    triples = triples.sample(frac=1.0, random_state=seed).reset_index(drop=True)
    event_classes = [f"{EX}class/{k}" for k in kinds]
    return SearchKG(
        triples=triples,
        pred_domain=[(PART_OF, event_classes), (COMMANDER, event_classes)],
        pred_range=[
            (PART_OF, [EVENT]),
            (RELATED_TO, [EVENT]),
            (LOCATION, [PLACE]),
            (COMMANDER, [PERSON]),
        ],
        superclasses=[
            (f"{EX}class/{k}", [f"{EX}class/{a}" for a in anc])
            for k, anc in EVENT_KINDS.items()
        ]
        + [(PLACE, [EX + "class/Location"]), (PERSON, [EX + "class/Agent"])],
        seed_event=seed_event,
        gold=sorted(gold),
        found_after_two=sorted(gold + related),
    )
