"""Seeded messy inputs for the ingest workload, with their expected counts.

Writes the three files the paper's own pipeline reads (FIXTURES.md §A):

- ``abfall_abc.csv``: the waste-item CSV, with section-marker rows,
  blank names, ``-`` sentinels, multiline and concatenated target cells,
  note rows, typo and tab variants, in-cell duplicate targets and a
  facility the JSON does not know;
- ``disposal_map.json``: the facility JSON ``{uuid: [records]}``, with
  one facility split across several uuids (merge-most-complete) and an
  empty-name record;
- ``abfall_abc_delta.csv``: a later export that overlaps the first one
  (re-listed items with extra targets, plus new items).

Every target cell is drawn from a fixed case list whose outcome is known,
so the expected item, edge and unmatched-facility counts come from the
generator itself, not from the code under test. The same seed gives
byte-identical files.
"""

from __future__ import annotations

import json
import os
import random
from dataclasses import dataclass

STREAMS = (
    "Restabfalltonne", "Biotonne", "Altpapiertonne",
    "Verpackungstonne", "Verpackungstonne (Gelbe Tonne)",
)
# Facility names the engine's default config also extracts from
# concatenated cells; all of them are present in the facility JSON.
EXTRACTABLE = (
    "Wertstoffhof Nord", "Wertstoffhof West", "Wertstoffhof Ost",
    "Schadstoffsammlung", "Abfallumladeanlage FES",
    "Fachhandel / Hersteller", "Sperrmüll Express",
)
UNKNOWN = ("Wertstoffhof Süd", "Recyclinghof Mitte")
NOTES = (
    "Laut FES: nur Mai-Oktober", "1 Stück = Sperrmüll",
    "Hinweis: siehe Website", "Biotonne oder Restabfalltonne",
)
_ITEM_WORDS = (
    "Altglas", "Batterie", "Bananenschale", "Farbeimer", "Zahnbürste",
    "Kühlschrank", "Übertopf", "Kaffeefilter", "Styropor", "Spraydose",
    "Holzpalette", "Druckerpatrone", "Glühbirne", "Pizzakarton", "Schuhe",
)
N_EXTRA_FACILITIES = 60


@dataclass(frozen=True)
class IngestInputs:
    csv: str
    delta_csv: str
    facilities_json: str
    rows: int  # generated CSV data rows, base + delta (markers and blanks included)
    facilities: int  # distinct non-empty facility names
    items: int  # items after the base import
    edges: int  # DISPOSED_IN/AT edges after the base import
    unmatched: int  # (item, target) pairs naming an unknown facility, base import
    items_after_delta: int
    edges_after_delta: int


def _facility_names() -> list[str]:
    return list(EXTRACTABLE) + [f"Sammelstelle {k:03d}" for k in range(N_EXTRA_FACILITIES)]


def _cell(rng: random.Random, facilities: list[str]) -> tuple[str, list[tuple[str, str]]]:
    """One ``Entsorgungsweg`` cell and its expected (target, kind) list,
    kind ∈ {stream, known, unknown}."""
    case = rng.randrange(12)
    if case == 0:
        return "-", []
    if case == 1:
        s = rng.choice(STREAMS)
        return s, [(s, "stream")]
    if case == 2:
        return "Restmülltonne", [("Restabfalltonne", "stream")]
    if case == 3:
        return "Gelbe Tonne", [("Verpackungstonne (Gelbe Tonne)", "stream")]
    if case == 4:
        a, b = rng.sample(facilities, 2)
        return f"{a}\n{b}", [(a, "known"), (b, "known")]
    if case == 5:
        names = rng.sample(EXTRACTABLE, 3)
        return " ".join(names), [(n, "known") for n in names]
    if case == 6:
        return rng.choice(NOTES), []
    if case == 7:
        return "Fachhandel / Herstelle", [("Fachhandel / Hersteller", "known")]
    if case == 8:
        return "Abfallumladeanlage \tFES", [("Abfallumladeanlage FES", "known")]
    if case == 9:
        s = rng.choice(STREAMS)
        return f"{s}\n{s}", [(s, "stream")]
    if case == 10:
        u = rng.choice(UNKNOWN)
        return u, [(u, "unknown")]
    f = rng.choice(facilities)
    return f"Biotonne\n{f}\n-", [("Biotonne", "stream"), (f, "known")]


def _quote(v: str) -> str:
    return '"' + v.replace('"', '""') + '"'


def _write_csv(path: str, rows: list[tuple[str, ...]]) -> None:
    with open(path, "w", encoding="utf-8", newline="\n") as f:
        f.write(",".join(_quote(c) for c in ("Abfallart", "Entsorgungsweg", "Adresse", "Öffnungszeiten", "Kontakt")) + "\n")
        for r in rows:
            f.write(",".join(_quote(c) for c in r) + "\n")


def _item_rows(rng: random.Random, names: list[str], facilities: list[str], edges: set, unmatched: list):
    """CSV rows for `names`, interleaved with marker and blank rows;
    expected edges and unmatched pairs are accumulated in place."""
    rows = []
    for i, name in enumerate(names):
        if i % 40 == 0:
            rows.append((chr(ord("A") + (i // 40) % 26), "", "", "", ""))  # section marker
        if i % 97 == 0:
            rows.append(("  ", rng.choice(STREAMS), "", "", ""))  # blank name
        cell, expected = _cell(rng, facilities)
        for target, kind in expected:
            if kind == "unknown":
                unmatched.append((name, target))
            else:
                edges.add((name, target))
        padded = f"  {name} " if rng.random() < 0.1 else name
        rows.append((padded, cell, f"Musterstr. {i}, 60437 Frankfurt", "Mo.-Fr. 8-16 Uhr", ""))
    return rows


def generate(out_dir: str, seed: int, n_items: int = 3000, n_delta: int = 600) -> IngestInputs:
    rng = random.Random(seed)
    os.makedirs(out_dir, exist_ok=True)
    facilities = _facility_names()

    # facility JSON: each name under 1-3 uuids, fields spread so that only
    # the merged view is complete, plus one empty-name record
    doc: dict[str, list[dict[str, str]]] = {}
    uuids = [f"{rng.getrandbits(64):016x}" for _ in range(len(facilities) // 2 + 4)]
    for name in facilities:
        for j in range(rng.randint(1, 3)):
            rec = {
                "name": name,
                "address": f"Strasse {rng.randint(1, 99)}" if j == 0 else "",
                "opening_hours": "Mo. - Sa. 8.00 - 16.50 Uhr" if j == 1 else "",
                "contact": f"069-{rng.randint(1000, 9999)}" if rng.random() < 0.5 else "",
                "additional_info": "",
                "link": "",
            }
            doc.setdefault(rng.choice(uuids), []).append(rec)
    doc.setdefault(uuids[0], []).append(
        {"name": "", "address": "dropped", "opening_hours": "", "contact": "", "additional_info": "", "link": ""}
    )
    fac_path = os.path.join(out_dir, "disposal_map.json")
    with open(fac_path, "w", encoding="utf-8", newline="\n") as f:
        json.dump(doc, f, ensure_ascii=False, indent=1)

    names = [f"{rng.choice(_ITEM_WORDS)} {i:05d}" for i in range(n_items)]
    edges: set = set()
    unmatched: list = []
    base_rows = _item_rows(rng, names, facilities, edges, unmatched)
    csv_path = os.path.join(out_dir, "abfall_abc.csv")
    _write_csv(csv_path, base_rows)
    base_edges = len(edges)

    # delta: half re-listed items (new targets merge onto them), half new items
    relisted = rng.sample(names, n_delta // 2)
    new = [f"{rng.choice(_ITEM_WORDS)} N{i:05d}" for i in range(n_delta - len(relisted))]
    delta_rows = _item_rows(rng, relisted + new, facilities, edges, [])
    delta_path = os.path.join(out_dir, "abfall_abc_delta.csv")
    _write_csv(delta_path, delta_rows)

    return IngestInputs(
        csv=csv_path,
        delta_csv=delta_path,
        facilities_json=fac_path,
        rows=len(base_rows) + len(delta_rows),
        facilities=len(facilities),
        items=len(names),
        edges=base_edges,
        unmatched=len(unmatched),
        items_after_delta=len(names) + len(new),
        edges_after_delta=len(edges),
    )
