"""The benchmark's inputs depend on the seed alone.

    python3 -m pytest perfbench/test_gen.py -q
"""

from __future__ import annotations

import hashlib
import json
import random
import re
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))

import gen  # noqa: E402


def inputs(seed: int, out: Path) -> dict[str, str]:
    """Every input kind the workloads feed the program, written under
    ``out``; returns relative path -> sha256 of its bytes."""
    c = gen.corpus(seed, 40, 200)
    gen.write_pages(c.pages, out / "pages", 4)
    store = gen.Store(c)
    rng = random.Random(f"dumps-{seed}")
    for k in range(2):
        inc = gen.increment(seed, k, 40, 10, 200)
        gen.write_pages(inc.pages, out / f"inc{k}", 1)
        store.apply(inc)
        (out / f"dump{k}.json").write_text(json.dumps(gen.dump_query(rng, store)))
    (out / "order.json").write_text(json.dumps([gen.query_order(seed, p) for p in range(3)]))
    gen.write_query_tables(seed, out / "sf", 64)
    return {
        str(p.relative_to(out)): hashlib.sha256(p.read_bytes()).hexdigest()
        for p in sorted(out.rglob("*")) if p.is_file()
    }


def test_one_seed_reproduces_identical_bytes(tmp_path):
    a, b = inputs(7, tmp_path / "a"), inputs(7, tmp_path / "b")
    assert len(a) == 14
    assert a == b


def test_two_seeds_differ(tmp_path):
    a, b = inputs(7, tmp_path / "a"), inputs(8, tmp_path / "b")
    assert a.keys() == b.keys()
    assert all(a[k] != b[k] for k in a)


def test_filler_holds_no_planted_term():
    c = gen.corpus(3, 30, 400)
    for page, (did, triples) in zip(c.pages, c.truth.items()):
        html = page["html"].decode()
        body = re.sub(r"<div><span .*?</span></div>", "", html)
        words = set(re.findall(r"[a-z]+", body.lower()))
        planted = {s.split(":", 1)[1] for s, p, _ in triples
                   if p == "APPEARS_IN" and not s.startswith("EMAIL:")}
        assert words & set(gen.GAZETTEER) <= planted
        addrs = {s[6:] for s, _, _ in triples if s.startswith("EMAIL:")}
        assert set(re.findall(r"[\w.]+@[\w.]+\.org", html)) == addrs, did
