"""Seeded generator of 3-2-1 newsletter issues and search queries.

Every issue has the structure the engine's chunker parses: a ``# `` title
line, then ``## 3 IDEAS FROM ME`` / ``## 2 QUOTES FROM OTHERS`` /
``## 1 QUESTION FOR YOU`` sections with roman-numeral items, ``---``
separators, ``[Share this on ...]`` lines, one linked and one text-only
``*Source:*`` line, and the "Until next week" sign-off.  An issue yields
exactly 3 + 2 + 1 = 6 chunks.

The prose never contains an upper-case I, V or X directly before a period:
the chunker splits on ``[IVX]+\\.`` anywhere in a section, so such a word
would add a chunk.  Issues are dated one per day.
"""

from __future__ import annotations

import datetime as dt
import os
import random

CHUNKS_PER_ISSUE = 6
_WORDS = (
    "habit system goal identity choice focus attention energy patience "
    "progress effort practice skill craft learning reading writing thinking "
    "decision mistake lesson failure success talent luck risk reward "
    "friend family health sleep exercise money time work rest season "
    "morning evening routine environment signal reminder friction reward "
    "outcome process result quality quantity speed direction purpose "
    "courage fear doubt confidence humility curiosity discipline freedom "
    "simple small steady daily tiny better worse clear honest quiet "
    "important useful rare common hard easy long short early late "
    "build make keep start finish choose repeat improve notice measure "
    "compound grow change remove reduce protect invest wait return "
    "the a of to and in on for with about from over under between "
    "every most many few some each your their our this that one"
).split()
_NAMES = (
    "Seneca", "Marcus Aurelius", "Maya Angelou", "Charlie Munger",
    "Annie Dillard", "Peter Drucker", "Toni Morrison", "Richard Feynman",
    "Mary Oliver", "Naval Ravikant", "Ursula Le Guin", "Herbert Simon",
)
_TITLES = (
    "Letters from a Stoic", "Meditations", "The Pilgrim at Tinker Creek",
    "Poor Charlie's Almanack", "The Effective Executive", "Beloved",
    "Surely You're Joking", "Upstream", "The Almanack", "A Wizard of Earthsea",
)


def _sentence(rng: random.Random, lo: int = 8, hi: int = 18) -> str:
    words = [rng.choice(_WORDS) for _ in range(rng.randint(lo, hi))]
    return words[0].capitalize() + " " + " ".join(words[1:]) + "."


def _para(rng: random.Random, lo: int = 2, hi: int = 4) -> str:
    return " ".join(_sentence(rng) for _ in range(rng.randint(lo, hi)))


def _slug(text: str) -> str:
    return "-".join(text.lower().replace("'", "").split())


def render_issue(rng: random.Random, date: dt.date) -> str:
    """One issue's markdown; the prose comes from ``rng``."""
    topics = [rng.choice(_WORDS[:60]) for _ in range(3)]
    share = "[Share this on Twitter](https://twitter.com/intent/tweet?text={})"
    lines = [
        f"# 3-2-1: On {topics[0]}, {topics[1]}, and {topics[2]}",
        "",
        f"Happy {date.strftime('%A')}!",
        "",
        "Here are 3 ideas, 2 quotes, and 1 question to consider this week.",
        "",
        "---",
        "",
        "## 3 IDEAS FROM ME",
        "",
    ]
    for numeral in ("I", "II", "III"):
        idea = _para(rng)
        lines += [f"{numeral}.", "", f'"{idea}"', "", share.format(_slug(idea[:40])), ""]
    lines += ["---", "", "## 2 QUOTES FROM OTHERS", ""]
    for numeral, linked in (("I", True), ("II", False)):
        name, title = rng.choice(_NAMES), rng.choice(_TITLES)
        quote = _para(rng, 1, 3)
        word = rng.choice(_WORDS[:60])
        lines += [
            f"{numeral}.",
            "",
            f"{name} on **{word}**:",
            "",
            f'"{quote}"',
            "",
            f"*Source:* [*{title}*](https://example.com/books/{_slug(title)})"
            if linked
            else f"*Source:* *{title}* by {name}",
            "",
            share.format(_slug(quote[:40])),
            "",
        ]
    lines += [
        "---",
        "",
        "## 1 QUESTION FOR YOU",
        "",
        _sentence(rng)[:-1] + "?",
        "",
        "---",
        "",
        "Until next week,",
        "",
        "James Clear",
        "Author of the million-copy bestseller, *Atomic Habits*",
        "",
    ]
    return "\n".join(lines)


# Dates do not depend on the seed, so every seed gives the same year
# partitions and the same plan shapes; the seed changes only the text.
FIRST_DATE = dt.date(2019, 1, 1)


def issue_dates(first: int, count: int) -> list[dt.date]:
    """Dates of issues ``first .. first+count-1`` (one issue per day)."""
    d0 = FIRST_DATE + dt.timedelta(days=first)
    return [d0 + dt.timedelta(days=i) for i in range(count)]


def generate_issues(seed: int, first: int, count: int) -> dict[str, str]:
    """``{"YYYY-MM-DD.md": markdown}`` for issues ``first .. first+count-1``.

    Issue ``n`` depends only on ``(seed, n)``, so batches can be generated
    in any order and any split.
    """
    out = {}
    for n, date in zip(range(first, first + count), issue_dates(first, count)):
        out[f"{date.isoformat()}.md"] = render_issue(random.Random(f"{seed}:issue:{n}"), date)
    return out


def write_issues(directory: str, issues: dict[str, str]) -> None:
    os.makedirs(directory, exist_ok=True)
    for name, text in issues.items():
        with open(os.path.join(directory, name), "w", encoding="utf-8") as f:
            f.write(text)


def generate_queries(seed: int, count: int) -> list[str]:
    """Short free-text queries drawn from the corpus vocabulary."""
    rng = random.Random(f"{seed}:queries")
    return [" ".join(rng.choice(_WORDS[:90]) for _ in range(rng.randint(2, 5))) for _ in range(count)]
