"""IOB2 corpus I/O (operators S1/S7 in SURVEY.md §2.1).

Parses token-per-line, tab-separated gold files where a blank line ends
a sentence. Reference citations: reader `data.py:18-88`, writer
`data.py:91-105`.

Preserved reference quirks:

* the reader's "O tag" test is ``tag.split() == "O"`` — a list/str
  comparison that is always False (`data.py:60`), so the effective
  condition for closing an entity is just ``"-" not in tag``;
* the LAST physical line of the file is treated as a sentence
  boundary, never as a token (`data.py:34`), so files without a
  trailing blank line silently drop their final token;
* FewNERD-style dash tags carry no B/I markers — contiguous tokens
  with any dash tag extend the current entity (`data.py:77-85`), and
  ``government/governmentagency`` is normalized to ``government``
  (`data.py:79-80`);
* the per-sentence ``types`` mapping is keyed on surface form, so a
  repeated surface with a different type overwrites (`data.py:38`) —
  the engine's mention table keys on (doc, begin, end) instead, but
  this gold-compat structure keeps the reference shape.
"""

from __future__ import annotations

from typing import Iterable


def parse_iob2_lines(lines: Iterable[str]) -> list[dict]:
    """State-machine parse of IOB2 lines into sentence records
    ``{"text", "entities", "types", "exact_types"}`` (`data.py:18-88`)."""
    lines = list(lines)
    out: list[dict] = []

    entities: list[str] = []
    types: dict[str, str] = {}
    tags: list[str] = []
    words = ""
    cur_surface = ""
    cur_type: str | None = None

    def close_entity():
        nonlocal cur_surface, cur_type
        if cur_type is not None:
            entities.append(cur_surface.strip())
            types[cur_surface.strip()] = cur_type
        cur_surface = ""
        cur_type = None

    for i, line in enumerate(lines):
        is_boundary = line.strip() == "" or line == "\n" or i == len(lines) - 1
        if is_boundary:
            close_entity()
            if words != "":
                out.append({
                    "text": words,
                    "entities": entities,
                    "types": types,
                    "exact_types": tags,
                })
            entities, types, tags = [], {}, []
            words = ""
            cur_surface = ""
            cur_type = None
            continue

        word, tag = line.split("\t")
        words = word if words == "" else words + " " + word
        tags.append(tag.strip())

        if "-" not in tag:
            # plain O tag (see module docstring re: data.py:60)
            close_entity()
        elif "B-" in tag or "I-" in tag:
            if "B-" in tag:
                close_entity()
                cur_surface = word
                cur_type = tag.split("-")[1].strip()
            else:
                cur_surface = cur_surface + " " + word
        else:
            # FewNERD: coarse-fine dash tag, no B/I — extend or start
            main_type, subtype = tag.split("-")
            if subtype.strip() == "government/governmentagency":
                subtype = "government"
            if cur_type is None:
                cur_surface = word
                cur_type = main_type + "-" + subtype.strip()
            else:
                cur_surface = cur_surface + " " + word

    return out


def render_iob2_lines(
    text: str,
    exact_types: list[str],
    true_tokens: list[str] | None = None,
) -> list[str]:
    """Render one sentence back to token-per-line IOB2 (`data.py:91-105`);
    returns lines WITHOUT trailing newlines, sentence blank line excluded."""
    tokens = true_tokens if true_tokens is not None else text.split(" ")
    return [f"{tok}\t{exact_types[j]}" for j, tok in enumerate(tokens)]
