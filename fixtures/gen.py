"""Deterministic synthetic transcript generator (FIXTURES.md §1).

Mirrors the reference's test-fixture style — deterministic in-test
synthesis of minimal inputs with known structure
(/root/reference/tests/test_handwriting.py:22-26,89-94 draws white
rectangles as synthetic digits; we synthesize payload blocks with known
content/boilerplate roles).  Seeded NumPy RNG; no external data.

Schema (BASELINE.json input_hint):
  conv_id string, turn_idx int32, role string, text string, tool string,
  ts timestamp
Rows are emitted SHUFFLED so tests prove ordering is restored by the
engine, not inherited from input order.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

_WORDS = (
    "the quick brown fox jumps over lazy dog spark query plan shuffle "
    "partition executor driver stage task row column table join filter "
    "aggregate window stream batch merge sort hash scan broadcast skew "
    "salt bucket lineage checkpoint resume content extraction pipeline "
    "density threshold segment classify span offset turn conversation"
).split()

_NAV_LINKS = ["Home", "About", "Products", "Pricing", "Contact", "Blog",
              "Careers", "Support", "Login", "Signup"]
_TOOLS = ["search", "bash", "fetch", "python", "browser"]
_BASE_EPOCH = pd.Timestamp("2024-01-01T00:00:00")


def _sentence(rng: np.random.RandomState, n: int) -> str:
    return " ".join(rng.choice(_WORDS, size=n)) + "."


def _paragraph(rng: np.random.RandomState, n_sent: int = 3) -> str:
    return " ".join(_sentence(rng, int(rng.randint(8, 20))) for _ in range(n_sent))


def _nav_block(rng: np.random.RandomState) -> str:
    links = rng.choice(_NAV_LINKS, size=int(rng.randint(4, 8)), replace=False)
    return "<nav>" + " ".join(f'<a href="/{w.lower()}">{w}</a>' for w in links) + "</nav>"


def _cookie_banner() -> str:
    return ('<div class="cookie">We use cookies. '
            '<a href="/accept">Accept</a> <a href="/reject">Reject</a></div>')


def _footer(rng: np.random.RandomState) -> str:
    return ('<footer>Copyright 2024 <a href="/tos">Terms</a> '
            '<a href="/privacy">Privacy</a></footer>')


def _html_payload(rng: np.random.RandomState) -> str:
    parts = [_nav_block(rng)]
    if rng.rand() < 0.4:
        parts.append(_cookie_banner())
    for _ in range(int(rng.randint(1, 4))):
        parts.append(f"<p>{_paragraph(rng)}</p>")
        if rng.rand() < 0.3:
            parts.append(f"<div>{_nav_block(rng)}</div>")
    parts.append(_footer(rng))
    return "".join(parts)


def _pdf_payload(rng: np.random.RandomState) -> str:
    lines = []
    lines.append(" " * 20 + "DOCUMENT TITLE " + str(rng.randint(100)))
    lines.append("")
    for _ in range(int(rng.randint(1, 4))):
        indent = int(rng.choice([0, 4]))
        for _ in range(int(rng.randint(3, 7))):
            lines.append(" " * indent + _sentence(rng, int(rng.randint(8, 14))))
        lines.append("")
    lines.append(" " * 30 + f"Page {rng.randint(1, 20)}")
    return "\n".join(lines)


def _md_payload(rng: np.random.RandomState) -> str:
    paras = [_paragraph(rng, 2) for _ in range(int(rng.randint(1, 4)))]
    body = "\n\n".join(paras)
    if rng.rand() < 0.5:
        body += "\n\n--\nsent from my phone"
    return body


def _tool_payload(rng: np.random.RandomState) -> str:
    items = ", ".join(f'"{w}"' for w in rng.choice(_WORDS, size=5))
    return ('{"status": "ok", "result": "' + _sentence(rng, 12)
            + '", "items": [' + items + "]}")


def _degenerate_payload(rng: np.random.RandomState) -> str:
    kind = int(rng.randint(4))
    if kind == 0:
        return ""
    if kind == 1:
        return "   \n \t  \n"
    if kind == 2:  # single giant unbroken block -> whole-turn fallback
        return " ".join(rng.choice(_WORDS, size=300))
    return "\x00\x01\ufffe odd \x00 bytes \uffff"


_FLAVORS = [_html_payload, _pdf_payload, _md_payload, _tool_payload,
            _degenerate_payload]
_FLAVOR_P = [0.30, 0.25, 0.25, 0.12, 0.08]
_BASE_TURNS = 8


def gen_transcripts(
    n_convs: int = 50, seed: int = 42, hot_conv_turns: int = 0,
) -> pd.DataFrame:
    """Generate a shuffled transcripts frame.

    Turn counts are Zipf-skewed so a few conversations are hot (exercises
    salt-based skew splitting); `hot_conv_turns` > 0 forces conv 0 to that
    many turns for targeted skew tests.
    """
    rng = np.random.RandomState(seed)
    rows: list[tuple] = []
    for i in range(n_convs):
        n_turns = int(np.clip(rng.zipf(1.6), 1, 40)) * _BASE_TURNS // 4 + 1
        if i == 0 and hot_conv_turns:
            n_turns = hot_conv_turns
        conv_id = f"conv-{i:06d}"
        conv_offset = pd.Timedelta(hours=int(i))
        for t in range(n_turns):
            role = ["user", "assistant", "tool", "assistant"][t % 4]
            if rng.rand() < 0.03:
                role = "system"
            flavor = rng.choice(len(_FLAVORS), p=_FLAVOR_P)
            text = _FLAVORS[flavor](rng)
            tool = str(rng.choice(_TOOLS)) if role == "tool" else ""
            ts = _BASE_EPOCH + conv_offset + pd.Timedelta(seconds=30 * t)
            rows.append((conv_id, np.int32(t), role, text, tool, ts))
    df = pd.DataFrame(
        rows, columns=["conv_id", "turn_idx", "role", "text", "tool", "ts"]
    )
    df["turn_idx"] = df["turn_idx"].astype("int32")
    # shuffled emission: ordering must be restored by the engine
    perm = np.random.RandomState(seed + 1).permutation(len(df))
    return df.iloc[perm].reset_index(drop=True)
