"""Presentation layer: byte-exact re-implementations of the
reference's terminal renderers, used for golden-output tests.

* frequency bars — /root/reference/textalyzer/src/frequency.rs:46-91
  (right-aligned word and count columns, two-space gutters, '▆' bars
  scaled into the space left of an 80-column line, f32 rounding)

The engine's contract is the DataFrame/JSON shapes; these formatters
exist so the reference's e2e golden (239,902 bytes of histogram
stdout for examples/1984.txt, integration_tests.rs:18-23) can gate
our tokenizer+aggregation end to end.
"""

from __future__ import annotations

import math

import numpy as np

from textalyzer_spark.functions.width import str_display_width

MAX_LINE_LENGTH = 80
BAR = "▆"


def _round_half_away(x: float) -> int:
    return int(math.floor(x + 0.5)) if x >= 0 else -int(math.floor(-x + 0.5))


def format_freq_map(rows: list[tuple[str, int]]) -> str:
    """Render (word, count) rows — pass them pre-sorted (count desc,
    word asc: the pinned tie order; the reference sorts count desc
    only and its byte-count golden is tie-order-invariant)."""
    if not rows:
        return ""
    max_word_w = max(str_display_width(w) for w, _ in rows)
    highest = max(c for _, c in rows)
    max_num_w = len(str(highest))
    remaining = MAX_LINE_LENGTH - (max_word_w + 2 + max_num_w + 2)
    out = []
    rem32 = np.float32(remaining)
    high32 = np.float32(highest)
    for word, count in rows:
        # reference computes the bar in f32 (frequency.rs:76-77)
        bar_w = _round_half_away(float(rem32 / high32 * np.float32(count)))
        pad_w = max_word_w - str_display_width(word)
        out.append(f"{' ' * pad_w}{word}  {str(count).rjust(max_num_w)}  {BAR * bar_w}\n")
    return "".join(out)


def format_duplications(
    rows: list[tuple[str, list[tuple[str, int]]]],
    files_only: bool = False,
    term_width: int = 80,
) -> str:
    """Render resolved duplications (output.rs:38-127, colors stripped
    — terminal theming is scoped out per SURVEY §2.11).

    ``files_only=True`` is the reference's ``--files-only`` mode
    (output.rs:110): the count header and the wrapped ``path:line``
    location lists are emitted, the duplicated content block and the
    dash separator are suppressed.
    """
    if not rows:
        return "No duplications found.\n"
    out = [f"📚 Found {len(rows)} duplicate entries\n\n"]
    left_width = 80
    avail = term_width - left_width if term_width > left_width else 40
    marker = " └─ "
    for content, locs in rows:
        current = ""
        for path, line_num in locs:
            loc_str = f"{path}:{line_num}"
            if current and len(current) + len(marker) + len(loc_str) > avail:
                out.append(current + "\n")
                current = marker + loc_str
            else:
                current = f"{current}{marker}{loc_str}"
        out.append(current + "\n\n")
        if not files_only:
            out.append(f"{content:76}\n")
            out.append("-" * term_width + "\n")
    return "".join(out)


# --- reference-shaped JSON sinks (types.rs:108-137, lib.rs:39-49,134-147) ---


def frequency_json(rows: list[tuple[str, int]]) -> str:
    """``[{word, count}]`` sorted count desc, word asc (lib.rs:41-47)."""
    import json

    items = [
        {"word": w, "count": c}
        for w, c in sorted(rows, key=lambda t: (-t[1], t[0]))
    ]
    return json.dumps(items, indent=2, ensure_ascii=False)


def line_length_json(rows: list[tuple[int, int]]) -> str:
    """``[{length, count}]`` sorted by length (line_length.rs:101-110)."""
    import json

    items = [{"length": l, "count": c} for l, c in sorted(rows)]
    return json.dumps(items, indent=2, ensure_ascii=False)


def duplication_json(rows: list[tuple[str, list[tuple[str, int]]]]) -> str:
    """``[{content, locations: [{path, line}]}]`` in the given order
    (lib.rs:134-147 preserves the resolved block order)."""
    import json

    items = [
        {
            "content": content,
            "locations": [{"path": p, "line": ln} for p, ln in locs],
        }
        for content, locs in rows
    ]
    return json.dumps(items, indent=2, ensure_ascii=False)
