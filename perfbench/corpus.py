"""Workload corpora: the ``turns`` table plus the golden outcome of
every turn, generated in this process from ``--seed`` alone.

Both corpora use the ``sources.turns.synthetic_turns`` conversation
shape (``n_turns_for``: ~2% long conversations) over the conversation
ids ``first .. first + n_convs``, where ``first_conv`` picks ``first``
from the seed: a multiple of ``n_convs`` below ``MAX_CONV``, so any
seed, however large, gives ids and timestamps in range. With
``n_convs`` a multiple of 100 the turn count does not depend on the
seed; the seed moves which payload each turn carries.

- ``fixture``: the ``synthetic_turns(broken_every=50)`` payloads — one
  of the 16 fixture PDFs per turn, chosen by ``fixture_for``, and a
  broken fixture as the last turn of every 50th conversation.
- ``distinct``: every turn carries its own payload, ``pdf_seeded_text``
  when ``(i + t) % 4 == 3`` and ``pdf_seeded_flate`` (12 Flate pages)
  otherwise, with fixture seed ``8 * i + t`` (at most 8 turns per
  conversation, so no two turns share a seed).

Each row carries the ``sources.turns.TURNS_SCHEMA`` columns plus
``gold_md5`` (md5 of the expected ``text``) and ``broken`` (a
``parse_error`` is expected); the job reads only the former.
"""

from __future__ import annotations

import hashlib

import pyarrow as pa

from pdf_parser_spark.fixtures import (
    BROKEN_FIXTURES, fixture_for, get_fixture, pdf_seeded_flate,
    pdf_seeded_text,
)
from pdf_parser_spark.sources.turns import n_turns_for

BROKEN_EVERY = 50
_BROKEN_IDS = sorted(BROKEN_FIXTURES)
_ROLES = ("user", "assistant", "tool")
_EPOCH_US = 1_767_225_600_000_000  # 2026-01-01T00:00:00Z
MAX_CONV = 10**8


def first_conv(seed: int, n_convs: int) -> int:
    """The first conversation id of the corpus for ``seed``."""
    return seed % (MAX_CONV // n_convs) * n_convs


def text_md5(text: str) -> str:
    return hashlib.md5(text.encode("utf-8")).hexdigest()


def _turns(kind: str, i: int):
    """Yield (turn_idx, payload, golden text, broken) for conversation i."""
    conv_id = f"conv-{i:06d}"
    nt = n_turns_for(i)
    for t in range(nt):
        if kind == "distinct":
            make = pdf_seeded_text if (i + t) % 4 == 3 else pdf_seeded_flate
            pdf, gold = make(8 * i + t)
            yield t, pdf, gold["text"], False
        elif t == nt - 1 and i % BROKEN_EVERY == BROKEN_EVERY - 1:
            pdf, _ = get_fixture(_BROKEN_IDS[i % len(_BROKEN_IDS)])
            yield t, pdf, "", True
        else:
            _fid, pdf, gold = fixture_for(conv_id, t)
            yield t, pdf, gold["text"], False


def build(kind: str, first: int, n_convs: int) -> pa.Table:
    """The corpus of conversations ``first .. first + n_convs``."""
    rows = [(i, t, pdf, text, broken)
            for i in range(first, first + n_convs)
            for t, pdf, text, broken in _turns(kind, i)]
    roles = [_ROLES[t % 3] for _, t, *_ in rows]
    return pa.table({
        "conv_id": pa.array([f"conv-{r[0]:06d}" for r in rows], pa.string()),
        "turn_idx": pa.array([r[1] for r in rows], pa.int32()),
        "role": pa.array(roles, pa.string()),
        "text": pa.array([r[2].decode("latin-1") for r in rows],
                         pa.string()),
        "tool": pa.array(["pdf_extract" if role == "tool" else ""
                          for role in roles], pa.string()),
        "ts": pa.array([_EPOCH_US + ((i - first) * 3600 + t * 60) * 10**6
                        for i, t, *_ in rows],
                       pa.timestamp("us", tz="UTC")),
        "gold_md5": pa.array([text_md5(r[3]) for r in rows], pa.string()),
        "broken": pa.array([r[4] for r in rows], pa.bool_()),
    })
