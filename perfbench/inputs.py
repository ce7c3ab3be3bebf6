"""Seeded flatten inputs and the hand-written reference flattener.

Two document shapes:

* ``games``: one NDJSON object per line -- a nested object plus two
  arrays-of-objects, the shape of ``bench_flatten.gen_ndjson`` (the
  workload behind the reference's "~10x faster than hand-written Python"
  claim);
* ``orgs``: one JSON array whose objects nest three levels of child
  tables (projects -> tasks -> notes), which takes the engine's serial
  multi-line read path.

``reference_flatten`` is the comparator: a single-threaded loop over
``json.loads`` that emits flatterer's table layout (main table, one table
per array-of-objects path, ``_link`` / ``_link_<ancestor>`` columns,
nested-object columns joined with ``_``).  It prints values the way the
engine does -- ``true``/``false`` for booleans and integral floats
without the ``.0`` (``5.0`` -> ``5``) -- so its CSV bytes must equal the
engine's.
"""

from __future__ import annotations

import csv
import hashlib
import json
import os
import random
import shutil

RATINGS = [("E", "Everyone"), ("T", "Teen"), ("M", "Mature")]
WORDS = ["alpha", "beta", "gamma", "delta", "epsilon", "zeta", "eta"]


def _game(rng: random.Random, i: int) -> dict:
    return {
        "id": i,
        "title": " ".join(rng.choices(WORDS, k=3)),
        "released": f"{rng.randint(1990, 2024)}-0{rng.randint(1, 9)}-1{rng.randint(0, 9)}",
        "rating": dict(zip(("code", "name"), rng.choice(RATINGS))),
        "developer": [
            {"name": rng.choice(WORDS), "country": {"iso": rng.choice(["US", "JP", "DE"])}}
            for _ in range(rng.randint(1, 3))
        ],
        "metrics": [
            {"k": "score", "v": round(rng.uniform(0, 10), 2)},
            {"k": "sales", "v": rng.randint(0, 10**6)},
        ],
    }


def write_games_ndjson(path: str, n: int, seed: int) -> None:
    rng = random.Random(seed)
    with open(path, "w") as f:
        for i in range(n):
            f.write(json.dumps(_game(rng, i)) + "\n")


def _org(rng: random.Random, i: int) -> dict:
    return {
        "id": i,
        "name": f"org {rng.choice(WORDS)} {i}",
        "meta": {"kind": rng.choice(WORDS), "score": round(rng.uniform(0, 100), 2)},
        "projects": [
            {
                "pid": j,
                "title": " ".join(rng.choices(WORDS, k=2)),
                "budget": float(rng.randint(1, 500)) * 10,
                "tasks": [
                    {
                        "tid": k,
                        "done": rng.random() < 0.5,
                        "hours": round(rng.uniform(0, 40), 1),
                        "notes": [
                            {"n": m, "text": rng.choice(WORDS), "w": round(rng.random(), 3)}
                            for m in range(rng.randint(0, 2))
                        ],
                    }
                    for k in range(rng.randint(0, 3))
                ],
            }
            for j in range(rng.randint(1, 3))
        ],
    }


def write_orgs_json(path: str, n: int, seed: int) -> None:
    rng = random.Random(seed)
    with open(path, "w") as f:
        json.dump([_org(rng, i) for i in range(n)], f)


def iter_objects(src: str):
    """Top-level objects of an NDJSON file or of a single JSON array."""
    with open(src) as f:
        first = f.read(1)
        f.seek(0)
        if first == "[":
            yield from json.load(f)
        else:
            for line in f:
                yield json.loads(line)


def _render(v) -> str:
    if v is None:
        return ""
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, float) and v.is_integer():
        return str(int(v))
    return str(v)


class _Table:
    """One output table, streamed to disk: rows are written as they come,
    the header once the column set is final."""

    def __init__(self, path: str):
        self.path = path
        self.columns: list[str] = []
        self.grew = False  # a column appeared after the first row
        self.rows = 0
        self.body = open(path + ".body", "w", newline="")
        self.writer = csv.writer(self.body, lineterminator="\n")

    def write(self, row: dict) -> None:
        for col in row:
            if col not in self.columns:
                self.grew = self.grew or self.rows > 0
                self.columns.append(col)
        self.writer.writerow([row.get(c, "") for c in self.columns])
        self.rows += 1

    def finish(self) -> None:
        self.body.close()
        width = len(self.columns)
        with open(self.path, "w", newline="") as f, open(self.path + ".body", newline="") as b:
            w = csv.writer(f, lineterminator="\n")
            w.writerow(self.columns)
            if self.grew:  # pad the rows written before a column appeared
                for cells in csv.reader(b):
                    w.writerow(cells + [""] * (width - len(cells)))
            else:
                shutil.copyfileobj(b, f)
        os.remove(self.path + ".body")


def reference_flatten(src: str, out_dir: str, main: str = "main") -> dict[str, str]:
    """Flatten ``src`` into ``<out_dir>/<table>.csv``; return table -> path."""
    os.makedirs(out_dir, exist_ok=True)
    tables: dict[str, _Table] = {}

    def emit(obj: dict, name: str, links: dict) -> None:
        row = dict(links)
        arrays: list[tuple[str, list]] = []

        def walk(o: dict, prefix: str) -> None:
            for k, v in o.items():
                if isinstance(v, dict):
                    walk(v, f"{prefix}{k}_")
                elif isinstance(v, list):
                    arrays.append((f"{prefix}{k}", v))
                else:
                    row[f"{prefix}{k}"] = _render(v)

        walk(obj, "")
        if name not in tables:
            tables[name] = _Table(os.path.join(out_dir, f"{name}.csv"))
        tables[name].write(row)
        link = links["_link"]
        # a child row links to its parent first, then to the parent's ancestors
        up = {f"_link_{name}": link}
        up.update((k, v) for k, v in links.items() if k != "_link")
        for col, items in arrays:
            child = col if name == main else f"{name}_{col}"
            for j, item in enumerate(items):
                emit(item, child, {"_link": f"{link}.{col}.{j}", **up})

    for i, obj in enumerate(iter_objects(src)):
        emit(obj, main, {"_link": str(i)})
    for t in tables.values():
        t.finish()
    return {name: t.path for name, t in tables.items()}


def digest(path: str) -> tuple[str, int]:
    """(sha256 of the file's bytes, data rows) for a CSV file."""
    h = hashlib.sha256()
    newlines = 0
    with open(path, "rb") as f:
        for chunk in iter(lambda: f.read(1 << 20), b""):
            h.update(chunk)
            newlines += chunk.count(b"\n")
    return h.hexdigest(), newlines - 1


def csv_digests(csv_dir: str) -> dict[str, tuple[str, int]]:
    """table -> digest for every ``<table>.csv`` in a directory."""
    return {
        fn[:-4]: digest(os.path.join(csv_dir, fn))
        for fn in sorted(os.listdir(csv_dir))
        if fn.endswith(".csv")
    }
