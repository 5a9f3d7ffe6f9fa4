"""Seeded benchmark inputs and their expected outputs.

Everything here is a pure function of ``(seed, sizes)``; the program under
test only ever sees the files written below.

* Transcripts: ``generate_transcripts`` takes no seed, so the benchmark
  picks the conversation-id window ``[seed * 10**7, seed * 10**7 + N)``
  itself and synthesizes those conversations with the program's own
  per-conversation content function. Content is a pure function of the
  conversation index, so the statement mix is the same for every seed
  while the rows (ids, hashes, values) differ.
* genmcf CSV: ``date,val,place,rid`` rows from ``numpy.random.default_rng
  (seed)``; places come from a Zipf-skewed pool, values are unique per row.
* Expected KG triples: ``import_spark.oracle.expected_triples`` (the
  row-at-a-time pandas oracle), cached per input under ``.perfbench_cache``
  because it is slow and deterministic.

Run as a script, it writes one prepared input set and prints its metadata
as JSON; the benchmark runs it in a child process so neither the inputs
nor the oracle's sets count towards the measured driver memory::

    python3 perfbench/inputs.py '{"kind": "transcripts", "seed": 1, ...}'
"""

from __future__ import annotations

import hashlib
import json
import os
import sys

import numpy as np
import pandas as pd

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
CACHE_DIR = os.path.join(ROOT, ".perfbench_cache")

# conv ids are shifted left 16 bits into a uint64 turn index by the
# transcript synthesizer, so the window start must stay below 2**48
_WINDOW = 10**7
_MAX_WINDOWS = (1 << 48) // _WINDOW


def conv_window_start(seed: int) -> int:
    return (seed % _MAX_WINDOWS) * _WINDOW


def transcripts_frame(first_conv: int, n_convs: int) -> pd.DataFrame:
    """Conversations ``[first_conv, first_conv + n_convs)`` as the
    transcript table the pipeline reads."""
    from import_spark.sources.transcripts import _gen_batch

    ids = pd.DataFrame({"id": np.arange(first_conv, first_conv + n_convs, dtype=np.int64)})
    return pd.concat(list(_gen_batch(iter([ids]), 9)), ignore_index=True)


def genmcf_frame(seed: int, n_rows: int, n_places: int) -> pd.DataFrame:
    """TMCF input rows: one StatVarObservation per row about one of
    ``n_places`` places drawn with Zipf(1.1) skew."""
    rng = np.random.default_rng(seed)
    w = 1.0 / np.arange(1, n_places + 1) ** 1.1
    place = rng.choice(n_places, size=n_rows, p=w / w.sum())
    day = rng.integers(0, 3650, size=n_rows)
    dates = (np.datetime64("2015-01-01") + day.astype("timedelta64[D]")).astype(str)
    whole = rng.integers(0, 100_000, size=n_rows)
    return pd.DataFrame(
        {
            "date": dates,
            # the row number in the fraction keeps every observation
            # distinct, so no two rows collapse into one node
            "val": [f"{a}.{i:06d}" for i, a in enumerate(whole)],
            "place": [f"user/{p}" for p in place],
            "rid": [str(i) for i in range(n_rows)],
        }
    )


def _code_digest() -> str:
    """Digest of the code that decides the expected triples, so a
    cached oracle result is never reused across an oracle change."""
    import import_spark.oracle as oracle_mod
    import import_spark.sources.transcripts as tr_mod

    h = hashlib.sha256()
    for path in (oracle_mod.__file__, tr_mod.__file__, os.path.abspath(__file__)):
        with open(path, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:16]


def expected_kg(files: list[str]) -> dict:
    """Oracle triples for the union of transcript ``files``, written to
    ``expected.parquet`` in the cache; returns counts and that path.
    Cached by input digest."""
    from import_spark.oracle import expected_triples
    from import_spark.sources.transcripts import build_dcid_dictionary

    h = hashlib.sha256(_code_digest().encode())
    for p in files:
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    key = h.hexdigest()[:24]
    cached = os.path.join(CACHE_DIR, key)
    meta_path = os.path.join(cached, "meta.json")
    if not os.path.exists(meta_path):
        pdf = pd.concat([pd.read_parquet(p) for p in files], ignore_index=True)
        want, failed = expected_triples(pdf, build_dcid_dictionary())
        os.makedirs(cached, exist_ok=True)
        pd.DataFrame(sorted(want), columns=["subj", "pred", "obj_type", "obj"]).to_parquet(
            os.path.join(cached, "expected.parquet"), index=False
        )
        tmp = meta_path + ".tmp"
        with open(tmp, "w") as f:
            json.dump({"triples": len(want), "failed": len(failed), "turns": len(pdf)}, f)
        os.replace(tmp, meta_path)
    with open(meta_path) as f:
        meta = json.load(f)
    meta["expected"] = os.path.join(cached, "expected.parquet")
    return meta


def prepare(spec: dict) -> dict:
    kind = spec["kind"]
    if kind == "oracle":
        return expected_kg(spec["files"])
    seed, out = spec["seed"], spec["out_dir"]
    os.makedirs(out, exist_ok=True)
    if kind == "transcripts":
        # ``batches`` files of ``convs`` consecutive conversations each,
        # after the first ``skip`` conversations of the seed's window
        start = conv_window_start(seed) + spec.get("skip", 0)
        files = []
        for b in range(spec["batches"]):
            path = os.path.join(out, f"{spec.get('prefix', 'batch')}-{b:03d}.parquet")
            transcripts_frame(start + b * spec["convs"], spec["convs"]).to_parquet(path, index=False)
            files.append(path)
        return {"files": files}
    if kind == "genmcf":
        pdf = genmcf_frame(seed, spec["rows"], spec["places"])
        path = os.path.join(out, "observations.csv")
        pdf.to_csv(path, index=False)
        return {"files": [path], "rows": len(pdf), "places": int(pdf["place"].nunique())}
    raise ValueError(f"unknown input kind {kind!r}")


if __name__ == "__main__":
    sys.path.insert(0, ROOT)
    print(json.dumps(prepare(json.loads(sys.argv[1]))))
