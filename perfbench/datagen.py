"""Seeded benchmark inputs, written inside the checkout.

The table generators are the repository's own (``tools/gen_scaledata.py``:
``gen_documents``, ``gen_embeddings``, ``gen_events``, ``gen_tpch``), driven
by numpy generators seeded from the benchmark's ``--seed``. The one piece of
that tool that reads outside the checkout is its text model, which it
measures from a read-only test corpus there; here the model is
synthesised from the seed instead, with the same shape as that corpus
(five languages, en ~41% and the rest ~15% each, a 31-token vocabulary,
10-100 tokens per document).
"""

from __future__ import annotations

import importlib.util
import os

import numpy as np

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

_VOCAB = (
    "a the data spark table query scan filter join group agg sort hash key "
    "value row column line part order customer batch stream window merge "
    "vector fast slow big small"
).split()
_LANGS = ["de", "en", "es", "fr", "zh"]
_LANG_P = [0.14, 0.41, 0.15, 0.15, 0.15]


def load_gen_scaledata():
    """Import ``tools/gen_scaledata.py`` by path (``tools`` is no package)."""
    path = os.path.join(ROOT, "tools", "gen_scaledata.py")
    spec = importlib.util.spec_from_file_location("gen_scaledata", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def text_model(seed: int) -> dict:
    """The dict ``gen_scaledata._empirical_text_model`` returns, drawn from
    ``seed`` rather than measured from a corpus outside the checkout."""
    rng = np.random.Generator(np.random.PCG64([seed, 7]))
    model: dict = {"langs": list(_LANGS), "lang_p": list(_LANG_P), "tokens": {}, "lens": {}}
    for lang in _LANGS:
        p = rng.dirichlet(np.full(len(_VOCAB), 20.0))
        model["tokens"][lang] = (list(_VOCAB), p)
        model["lens"][lang] = rng.integers(10, 101, size=512).astype(np.int64)
    return model


def generate(out_dir: str, seed: int, sf: float, tables: tuple[str, ...]) -> dict:
    """Write the named table families at scale ``sf`` into ``out_dir``.

    ``tables`` holds any of ``documents``, ``embeddings``, ``events`` and
    ``tpch``. Each family draws from its own generator seeded by
    ``(seed, family)``, so a table's bytes depend only on the seed and sf.
    Returns row counts per table.
    """
    gs = load_gen_scaledata()
    gs._empirical_text_model = lambda: text_model(seed)
    os.makedirs(out_dir, exist_ok=True)
    counts: dict = {}
    for i, (name, fn) in enumerate(
        (
            ("documents", gs.gen_documents),
            ("embeddings", gs.gen_embeddings),
            ("events", gs.gen_events),
            ("tpch", gs.gen_tpch),
        )
    ):
        if name not in tables:
            continue
        rng = np.random.Generator(np.random.PCG64([seed, i]))
        got = fn(sf, out_dir, rng)
        counts.update(got if isinstance(got, dict) else {name: got})
    return counts
