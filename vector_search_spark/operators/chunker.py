"""Newsletter chunker (reference T7, `pipeline/utils.py:93-187`) as native
Catalyst expressions in one pass: split sections → classify → one
``posexplode`` of each section's parts → one projection per field.

No Python in the data path, no shuffle and no union.  Every category goes
through the same explode: idea and quote sections explode their
roman-numeral split, a question section explodes ``array('', question)``,
and ``part_pos >= 1`` drops the header remnant (or the placeholder).  The
per-category transforms are ``CASE category`` branches of one projection.
So the plan reads each file once and has two ``Generate`` nodes, and an
embed UDF above it runs one Python task per file split.  A union of three
per-category branches, each starting from the sections, would have
re-read every file three times: Spark does not share a subtree across
union branches.

The expressions are SQL text (``selectExpr`` and ``where``), regexes as
raw ``r'…'`` literals: each projection is then a few gateway calls, where
a chain of ``F.*`` calls is one or more per function, so the chunk chain
builds in tens of round trips instead of thousands.

Bug-for-bug semantics preserved (SURVEY.md §2.2 T7):
- section headers matched by **case-sensitive substring containment**
  (`utils.py:110,126,170`) with idea → quote → question precedence; files
  with case-variant headers silently produce 0 chunks (4 of 331 in the
  reference corpus);
- the roman-numeral split ``[IVX]+\\.`` is not line-anchored, so "I."
  inside prose splits too (`utils.py:112,127`);
- the first split element (header remnant) is skipped (`utils.py:114,128`);
- ``---`` removed anywhere in the section *after* strip (`utils.py:108`);
- idea prefix "Idea from James Clear: " (`utils.py:117`), quote prefix
  "Quote from {source_name}: " only when the extracted name is non-empty
  (`utils.py:152-155`);
- quote source: linked form ``*Source:* [title](url)`` wins, else
  text-only fallback to end-of-line; '*' stripped from titles
  (`utils.py:129-145`);
- quote body: everything from the first "\\n*Source:*" to the end removed
  (DOTALL), markdown links unwrapped, '**' removed, one '  '→' ' pass
  (`utils.py:147-149`);
- question: header text removed, cut at "Until next week", single chunk
  with index 1 (`utils.py:170-185`);
- blank lines dropped and ends trimmed on every chunk (`utils.py:88-90`).
"""

from __future__ import annotations

from pyspark.sql import DataFrame

IDEA_PREFIX = "Idea from James Clear: "

_LINKED_SOURCE = r"r'(?U)\*Source:\*\s*\[([^\]]+)\]\(([^\)]+)\)'"
_TEXT_SOURCE = r"r'(?mU)\*Source:\*\s*(.+)$'"

_OUTPUT = ("sec_pos", "part_pos", "text", "category", "index", "date", "source", "source_name")
# Intermediate columns sit next to the input's in each projection.
_INTERNAL = ("_sec_pos", "_section", "_category", "_part_pos", "_part", "_source_name", "_source", "_body")


def strip_sql(e: str) -> str:
    r"""SQL text of Python ``str.strip()`` (all whitespace) of SQL
    expression ``e`` — Spark's ``trim`` only removes spaces.  (?U) because
    Python's \s is Unicode (matches \xa0) while Java's default is
    ASCII-only; the corpus contains nbsp."""
    return rf"regexp_replace(regexp_replace({e}, r'(?U)^\s+', ''), r'(?U)\s+$', '')"


def _trim_empty_lines(e: str) -> str:
    """Reference `utils.py:88-90`: drop blank lines (keeping original line
    content), join with \\n, strip both ends."""
    kept = rf"filter(split({strip_sql(e)}, r'\n'), l -> {strip_sql('l')} != '')"
    return strip_sql(f"array_join({kept}, chr(10))")


def _quoted(name: str) -> str:
    return "`" + name.replace("`", "``") + "`"


def parse_newsletter_chunks(
    df: DataFrame,
    content_col: str = "content",
    date_col: str = "date",
) -> DataFrame:
    """Markdown documents → typed chunk rows.

    Input: one row per document with ``content_col`` (markdown text),
    ``date_col`` (issue date string) and any passthrough columns.  An
    input column named like an output column (e.g. the ``source`` of
    FIXTURES.md §1's ``documents``) is replaced by the chunker's output,
    as ``enrich_title_url`` replaces ``title`` and ``url``.  The
    intermediate names (``_INTERNAL``) are reserved: an input column
    named like one raises ``ValueError``.
    Output: passthrough columns + (sec_pos, part_pos, text, category,
    index, date, source, source_name) — the reference chunk schema
    (SURVEY.md §1.2) plus the deterministic position keys.
    """
    cols = df.columns
    keep = [c for c in cols if c not in (content_col, date_col, *_OUTPUT)]
    clash = [c for c in cols if c in _INTERNAL]
    if clash:
        raise ValueError(f"parse_newsletter_chunks: reserved column names in the input: {clash}")
    header_cut = strip_sql("replace(_section, '1 QUESTION FOR YOU', '')")
    question = strip_sql(f"split({header_cut}, 'Until next week')[0]")
    link_title = f"regexp_extract(_part, {_LINKED_SOURCE}, 1)"
    text_title = f"regexp_extract(_part, {_TEXT_SOURCE}, 1)"
    body = strip_sql(
        rf"""replace(replace(regexp_replace(regexp_replace(_part,
            r'(?s)\n\*Source:\*.*', ''), r'\[([^\]]+)\]\([^\)]+\)', '$1'), '**', ''), '  ', ' ')"""
    )
    quote = "CASE WHEN _source_name != '' THEN concat('Quote from ', _source_name, ': ', _body) ELSE _body END"
    parts = (
        # share-lines removed, sections split on `^##\s+` headers and stripped
        df.selectExpr(
            "*",
            rf"""posexplode(transform(
                split(regexp_replace({_quoted(content_col)}, r'(?m)^\[Share this on.*\n?', ''), r'(?mU)^##\s+'),
                s -> replace({strip_sql('s')}, '---', ''))) AS (_sec_pos, _section)""",
        )
        .selectExpr(
            "*",
            """CASE WHEN contains(_section, '3 IDEAS FROM ME') THEN 'idea'
                WHEN contains(_section, '2 QUOTES FROM OTHERS') THEN 'quote'
                WHEN contains(_section, '1 QUESTION FOR YOU') THEN 'question' END AS _category""",
        )
        .where("_category IS NOT NULL")
        .selectExpr(
            "*",
            rf"""posexplode(CASE _category WHEN 'question' THEN array('', {question})
                ELSE split(_section, r'[IVX]+\.') END) AS (_part_pos, _part)""",
        )
        .where("_part_pos >= 1")
    )
    quotes = parts.selectExpr(
        "*",
        f"""CASE WHEN _category = 'quote' THEN CASE
            WHEN {link_title} != '' THEN replace({link_title}, '*', '')
            WHEN {text_title} != '' THEN replace({text_title}, '*', '') END END AS _source_name""",
        f"CASE WHEN _category = 'quote' AND {link_title} != '' THEN regexp_extract(_part, {_LINKED_SOURCE}, 2) END AS _source",
        f"CASE WHEN _category = 'quote' THEN {body} END AS _body",
    )
    return quotes.selectExpr(
        *[_quoted(c) for c in keep],
        "_sec_pos AS sec_pos",
        "_part_pos AS part_pos",
        f"""CASE _category WHEN 'idea' THEN concat('{IDEA_PREFIX}', {_trim_empty_lines('_part')})
            WHEN 'quote' THEN {_trim_empty_lines(quote)}
            ELSE {_trim_empty_lines('_part')} END AS text""",
        "_category AS category",
        "_part_pos AS index",
        f"{_quoted(date_col)} AS date",
        "_source AS source",
        "_source_name AS source_name",
    )
