"""Seeded Scryfall-shaped card data for the ``card_ingest`` workload.

The generator mirrors the shape of a Scryfall ``all_cards`` bulk file (one
top-level JSON array of card objects) but is the benchmark's own: it
imports nothing from the engine or its tests, so neither can change the
benchmark's inputs.

A batch models one slice of a bulk-file refresh. The reference re-imports
the whole file whenever the server's copy is newer and upserts every row
(``ON CONFLICT (id) DO UPDATE``), so a refresh re-sends every card it
already holds next to the cards that are new since the last one. A batch
therefore re-sends every card of the sets it touches, with new values,
plus new cards in those sets. On top of that it carries the edge rows the
transform and the merge must handle:

- duplicate ids inside one batch, where the LAST row in file order wins;
- rows the transform drops: a null ``id``, and a bogus ``layout`` (the
  ingest runs with ``strict_layout=True``);
- rows whose ``released_at`` is not a date: kept, with the date NULL.

``CardStream`` holds the expected table state (one entry per surviving
id) next to the generator, so every batch it writes is paired with the
state the upsert must leave behind. Every generated row carries a unique
``edhrec_rank`` stamp, so the final check can tell which version of a row
survived.
"""

from __future__ import annotations

import json
import random

LAYOUTS = ("normal", "split", "transform", "modal_dfc", "adventure", "token", "saga")
MULTIFACE = frozenset({"split", "transform", "modal_dfc", "adventure"})
COLORS = ("W", "U", "B", "R", "G")
KEYWORDS = ("Flying", "Trample", "Haste", "Lifelink", "Deathtouch", "Vigilance", "Ward")
RARITIES = ("common", "uncommon", "rare", "mythic")
WORDS = (
    "bolt deal damage target creature player draw card destroy exile counter "
    "spell flying until end turn each opponent sacrifice return hand graveyard "
    "battlefield token untap tap life gain lose"
).split()
SET_TYPES = ("core", "expansion", "masters", "commander")

#: new cards per touched set in one batch (the rest of a batch re-sends
#: every card the touched sets already hold)
BATCH_NEW_PER_SET = 16
#: edge rows per batch
BATCH_DUPLICATES = 8  # ids written twice in one batch; the second row wins
BATCH_NULL_ID = 2
BATCH_BAD_LAYOUT = 2
BATCH_BAD_DATE = 2


def _uuid(rng: random.Random) -> str:
    return "%08x-%04x-4%03x-%04x-%012x" % (
        rng.getrandbits(32),
        rng.getrandbits(16),
        rng.getrandbits(12),
        rng.getrandbits(16),
        rng.getrandbits(48),
    )


class CardStream:
    """Seeded generator of an initial bulk file and a sequence of upsert
    batches, with the expected table state after each of them."""

    def __init__(self, seed: int, n_sets: int, cards_per_set: int, batch_sets: int):
        self.rng = random.Random(f"cards:{seed}")
        self.sets = [self._make_set(i) for i in range(n_sets)]
        self.cards_per_set = cards_per_set
        self.batch_sets = batch_sets
        self.stamp = 0
        #: id -> (set code, edhrec_rank stamp, released_at or None)
        self.expected: dict[str, tuple[str, int, str | None]] = {}
        #: set code -> ids currently in that set
        self.ids_by_set: dict[str, list[str]] = {s["code"]: [] for s in self.sets}
        self.oracle_ids = [_uuid(self.rng) for _ in range(max(1, n_sets * cards_per_set // 2))]

    def _make_set(self, i: int) -> dict:
        code = f"b{i:03d}"
        return {
            "id": _uuid(self.rng),
            "code": code,
            "name": f"Bench Set {i}",
            "set_type": SET_TYPES[i % len(SET_TYPES)],
            "uri": f"https://api.example/sets/{code}",
            "search_uri": f"https://api.example/cards/search?set={code}",
            "scryfall_uri": f"https://example/sets/{code}",
        }

    def _card(self, card_id: str | None, s: dict, layout: str, released: str | None) -> dict:
        rng = self.rng
        self.stamp += 1
        stamp = self.stamp
        multiface = layout in MULTIFACE
        colors = sorted(rng.sample(COLORS, rng.randint(0, 3)))
        text = " ".join(rng.choices(WORDS, k=rng.randint(6, 24)))
        faces = (
            [
                {
                    "name": f"Face {side} {stamp}",
                    "mana_cost": "{%d}{%s}" % (rng.randint(0, 5), rng.choice(COLORS)),
                    "type_line": rng.choice(("Instant", "Sorcery", "Creature — Bench")),
                    "oracle_text": " ".join(rng.choices(WORDS, k=8)),
                    "power": None,
                    "toughness": None,
                    "colors": [rng.choice(COLORS)],
                    "image_uris": {"normal": f"https://img.example/{stamp}/{side}.jpg"},
                }
                for side in ("a", "b")
            ]
            if multiface
            else None
        )
        return {
            "id": card_id,
            "oracle_id": rng.choice(self.oracle_ids),
            "object": "card",
            "multiverse_ids": [stamp, stamp + 1_000_000] if stamp % 2 else [],
            "mtgo_id": stamp if stamp % 3 else None,
            "tcgplayer_id": stamp * 2,
            "cardmarket_id": stamp * 3,
            "name": f"{rng.choice(WORDS).title()} {rng.choice(WORDS).title()} {stamp}",
            "lang": "en",
            "released_at": released,
            "uri": f"https://api.example/cards/{stamp}",
            "scryfall_uri": f"https://example/cards/{stamp}",
            "layout": layout,
            "highres_image": stamp % 2 == 0,
            "image_status": "highres_scan",
            "image_uris": None
            if multiface and stamp % 3
            else {"normal": f"https://img.example/{stamp}.jpg"},
            "mana_cost": "{%d}{%s}" % (rng.randint(0, 7), rng.choice(COLORS)),
            "cmc": float(rng.randint(0, 12)),
            "type_line": rng.choice(("Creature — Bench", "Instant", "Sorcery", "Artifact")),
            "oracle_text": text,
            "power": rng.choice(("1", "2", "3", "*", None)),
            "toughness": rng.choice(("1", "2", "4", "*", None)),
            "colors": colors,
            "color_identity": colors,
            "keywords": sorted(rng.sample(KEYWORDS, rng.randint(0, 3))),
            "legalities": {
                "modern": rng.choice(("legal", "not_legal")),
                "legacy": "legal",
                "commander": rng.choice(("legal", "banned")),
            },
            "games": ["paper", "mtgo"],
            "reserved": False,
            "game_changer": stamp % 50 == 0,
            "foil": stamp % 2 == 0,
            "nonfoil": True,
            "finishes": ["nonfoil", "foil"] if stamp % 2 else ["nonfoil"],
            "oversized": False,
            "promo": stamp % 25 == 0,
            "reprint": stamp % 3 == 0,
            "variation": False,
            "set_id": s["id"],
            "set": s["code"],
            "set_name": s["name"],
            "set_type": s["set_type"],
            "set_uri": s["uri"],
            "set_search_uri": s["search_uri"],
            "scryfall_set_uri": s["scryfall_uri"],
            "rulings_uri": f"https://api.example/cards/{stamp}/rulings",
            "prints_search_uri": "https://api.example/cards/search",
            "collector_number": str(stamp % 400 + 1),
            "digital": False,
            "rarity": rng.choice(RARITIES),
            "watermark": None,
            "flavor_text": " ".join(rng.choices(WORDS, k=6)) if stamp % 4 == 0 else None,
            "card_back_id": _uuid(rng),
            "artist": f"Artist {rng.randint(0, 80)}",
            "artist_ids": [_uuid(rng)],
            "illustration_id": _uuid(rng),
            "border_color": "black",
            "frame": "2015",
            "frame_effects": ["legendary"] if stamp % 20 == 0 else None,
            "security_stamp": "oval" if stamp % 2 else None,
            "full_art": False,
            "textless": False,
            "booster": True,
            "story_spotlight": False,
            "edhrec_rank": stamp,
            "preview": None,
            "prices": {"usd": f"{rng.randint(1, 5000) / 100:.2f}", "eur": None},
            "related_uris": {"edhrec": f"https://edhrec.example/{stamp}"},
            "purchase_uris": {"tcgplayer": f"https://tcg.example/{stamp}"},
            "card_faces": faces,
            "all_parts": None,
            # keys outside the declared schema: the reader must drop them
            "unknown_field": {"nested": True} if stamp % 2 == 0 else None,
        }

    def _date(self) -> str:
        rng = self.rng
        return f"20{rng.randint(0, 25):02d}-{rng.randint(1, 12):02d}-{rng.randint(1, 28):02d}"

    def _keep(self, card: dict) -> dict:
        """Record a row the upsert keeps (later rows overwrite earlier)."""
        cid, code = card["id"], card["set"]
        if cid not in self.expected:
            self.ids_by_set[code].append(cid)
        self.expected[cid] = (code, card["edhrec_rank"], card["released_at"])
        return card

    def initial(self) -> list[dict]:
        """The initial bulk file: ``cards_per_set`` valid cards per set."""
        return [
            self._keep(self._card(_uuid(self.rng), s, self.rng.choice(LAYOUTS), self._date()))
            for _ in range(self.cards_per_set)
            for s in self.sets
        ]

    def batch(self) -> list[dict]:
        """One upsert batch: a refresh of ``batch_sets`` seeded sets."""
        rng = self.rng
        touched = rng.sample(self.sets, self.batch_sets)
        rows: list[dict] = []
        for s in touched:
            for cid in self.ids_by_set[s["code"]]:
                rows.append(self._card(cid, s, rng.choice(LAYOUTS), self._date()))
            for _ in range(BATCH_NEW_PER_SET):
                rows.append(self._card(_uuid(rng), s, rng.choice(LAYOUTS), self._date()))

        def pick_set() -> dict:
            return touched[rng.randrange(len(touched))]

        for _ in range(BATCH_BAD_DATE):
            rows.append(self._card(_uuid(rng), pick_set(), rng.choice(LAYOUTS), "not-a-date"))
        rng.shuffle(rows)
        # duplicates: re-emit some ids later in the file with new values
        for src in rng.sample(rows, BATCH_DUPLICATES):
            s = next(t for t in touched if t["code"] == src["set"])
            rows.append(self._card(src["id"], s, rng.choice(LAYOUTS), self._date()))
        dropped = [self._card(None, pick_set(), rng.choice(LAYOUTS), self._date())
                   for _ in range(BATCH_NULL_ID)]
        dropped += [self._card(_uuid(rng), pick_set(), "bogus_layout", self._date())
                    for _ in range(BATCH_BAD_LAYOUT)]
        for card in dropped:
            rows.insert(rng.randrange(len(rows) + 1), card)
        for card in rows:  # file order is the last-wins order
            if card["id"] is not None and card["layout"] != "bogus_layout":
                self._keep(card)
        return rows

    def expected_rows(self) -> dict[str, tuple[str, int, str | None]]:
        """id -> (set, edhrec_rank, released_at) the table must hold;
        dates that are not dates read back as NULL."""
        return {
            cid: (code, stamp, None if released == "not-a-date" else released)
            for cid, (code, stamp, released) in self.expected.items()
        }


def write_json_array(cards: list[dict], path: str) -> int:
    """Write ``cards`` as one JSON array (the bulk-file shape); returns
    the file size in bytes."""
    data = json.dumps(cards, separators=(",", ":"), sort_keys=True).encode("utf-8")
    with open(path, "wb") as f:
        f.write(data)
    return len(data)
