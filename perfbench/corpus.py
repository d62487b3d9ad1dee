"""Seeded synthetic news corpus in the raw JSONL shape the clean stage reads.

Rows follow the HuffPost News Category layout (``link``, ``headline``,
``category``, ``short_description``, ``authors``, ``date``) and carry the
edge cases the clean stage must handle: null title/content/category,
empty-string content (kept), out-of-list categories, unparseable dates
and many rows sharing one date (the tie that ``link`` breaks in the id
order).  ``wire_share`` makes that share of rows copy the title and
content of an earlier kept row, the way wire stories are re-published.

The expected clean result is derived here from the generated rows alone,
without calling the engine, so the output checks are independent of it.
"""

from __future__ import annotations

import json
import random
from dataclasses import dataclass, field
from datetime import date, timedelta

# The reference's keep-list (Main.py:43), restated here on purpose.
KEEP = ("WORLD NEWS", "POLITICS", "BUSINESS", "TECH", "MONEY")
_KEEP_WEIGHTS = (3, 12, 3, 2, 1)
_OTHER = (
    "ENTERTAINMENT", "WELLNESS", "TRAVEL", "STYLE & BEAUTY", "PARENTING",
    "FOOD & DRINK", "QUEER VOICES", "COMEDY", "SPORTS", "BLACK VOICES",
    "HOME & LIVING", "WEDDINGS", "CRIME", "U.S. NEWS", "SCIENCE",
    "politics",  # case matters: not in the keep-list
)
_WORDS = (
    "market stocks rally fed rates inflation tariff trade deal election vote "
    "senate court ruling oil prices bank crisis tech startup ai chip supply "
    "chain jobs report growth recession bond yields dollar euro china europe "
    "war talks summit climate energy merger earnings forecast housing crypto "
    "regulators antitrust strike union labor wages budget deficit debt"
).split()
_FIRST = date(2012, 1, 28)
_DAYS = 3892  # through 2022-09-23, the dataset's date span
BAD_DATES = ("2022-13-01", "not a date", "", "23/09/2022")


@dataclass
class Corpus:
    lines: list[str]
    rows_in: int
    # kept rows in id order: (link, title, content, publish_date, category)
    kept: list[tuple[str, str, str, str, str]]
    dropped: dict[str, int] = field(default_factory=dict)
    duplicate_dates: int = 0
    duplicate_payloads: int = 0


def _text(rng: random.Random, lo: int, hi: int) -> str:
    return " ".join(rng.choices(_WORDS, k=rng.randint(lo, hi)))


def generate(seed: int, n_rows: int, wire_share: float = 0.0) -> Corpus:
    """Build ``n_rows`` raw articles from ``seed``; the same seed gives the
    same lines.  Without ``wire_share`` every (title, content) is unique."""
    rng = random.Random(seed)
    lines: list[str] = []
    kept: list[tuple[str, str, str, str, str]] = []
    dropped = {"null_field": 0, "category": 0, "date": 0}
    for i in range(n_rows):
        link = f"https://www.huffpost.com/entry/story-{seed}-{i:07d}"
        title = f"{_text(rng, 5, 12)} {seed}-{i}".capitalize()
        content = _text(rng, 8, 30)
        if rng.random() < 0.45:
            category = rng.choices(KEEP, _KEEP_WEIGHTS)[0]
        else:
            category = rng.choice(_OTHER)
        day = (_FIRST + timedelta(days=rng.randrange(_DAYS))).isoformat()
        rec = {
            "link": link,
            "headline": title,
            "category": category,
            "short_description": content,
            "authors": rng.choice(("", "Staff", "Jane Doe", "AP")),
            "date": day,
        }
        edge = rng.random()
        if edge < 0.01:
            rec["headline"] = None
        elif edge < 0.02:
            del rec["short_description"]
        elif edge < 0.03:
            rec["category"] = None
        elif edge < 0.04:
            rec["short_description"] = ""
        elif edge < 0.05:
            rec["date"] = rng.choice(BAD_DATES)
        elif edge < 0.055:
            rec["date"] = None
        elif wire_share and kept and edge < 0.055 + wire_share:
            # a wire copy: same payload as an earlier kept story, own link
            src = kept[rng.randrange(len(kept))]
            rec["headline"], rec["short_description"] = src[1], src[2]
            rec["category"] = rng.choice(KEEP)
        lines.append(json.dumps(rec))

        t, c, cat, d = rec["headline"], rec.get("short_description"), rec["category"], rec["date"]
        if t is None or c is None or cat is None:
            dropped["null_field"] += 1
        elif cat not in KEEP:
            dropped["category"] += 1
        elif d is None or d in BAD_DATES:
            dropped["date"] += 1
        else:
            kept.append((link, t, c, d, cat))
    kept.sort(key=lambda r: (r[3], r[0]))
    return Corpus(
        lines=lines,
        rows_in=n_rows,
        kept=kept,
        dropped=dropped,
        duplicate_dates=len(kept) - len({r[3] for r in kept}),
        duplicate_payloads=len(kept) - len({(r[1], r[2]) for r in kept}),
    )


def write_jsonl(corpus: Corpus, path: str) -> None:
    with open(path, "w") as fh:
        fh.write("\n".join(corpus.lines))
        fh.write("\n")
