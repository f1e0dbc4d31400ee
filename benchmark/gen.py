"""Seeded input generator for the benchmark workloads.

Everything here is numpy + pyarrow: the inputs are written as parquet
before the program sees them, and the expected outcome of every row (its
route, or whether it survives dedup) is written to a side table that only
the benchmark reads.  The same ``(workload, seed, n_rows, n_files)``
always yields byte-identical inputs.

Why each input property has the shape it has:

* ``n_tok`` is log-normal (median 128 tokens, sigma 1.0) clipped to
  [1, 512]: document lengths in real corpora are heavy-tailed with many
  short documents and a long tail, which is what makes first-fit bin
  packing non-trivial; the cap is the packer's bin capacity
  (``packing.CHUNK``), so no document takes the oversize path.
* token ids are Zipf-distributed over the 50257-id vocabulary: natural
  text token frequencies are Zipfian, and the skew decides how well the
  parquet encoders compress the token arrays (``sink_bytes_per_row``).
* ``source`` is skewed web 60 / books 20 / code 10 / wiki 9 / null 1, the
  fixture's mix, so the histogram aggregation sees one hot key and a null.
* the line mix is 90 / 5 / 3 / 2 percent matchable / no provider /
  malformed / numeric provider, the fixture grammar's mix: the matchable
  rows exercise parse + sniff + cast, the other three exercise the NONE
  route, the quarantine sink and the silent-empty template rule.
* providers: the fixture's 3 providers, uniformly, which with the other
  line kinds gives 6 sinks: a few large writes and per-route commits.
* the side table also holds, for every row, the value each field must
  have after the cast, so the checks cover route_cast's output too.
* ``token_pack`` copies the token array of an earlier row into ~10% of
  the rows: exact duplicates at the rate web crawls show, leaving a
  large majority of singletons for the census to pass through.
"""

from __future__ import annotations

import os
import re
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = 50257
MAX_TOK = 512
SOURCES = np.array(["web", "books", "code", "wiki", None], dtype=object)
SOURCE_P = [0.60, 0.20, 0.10, 0.09, 0.01]
LEVELS = np.array(["INFO", "WARN", "ERROR"], dtype=object)
PROVIDERS = [
    "Microsoft-Windows-Security-Auditing", "App Log/Main", "WEIRD:NAME*"]
DUP_SHARE = 0.10
EPOCH_S = 1647993600  # 2022-03-23T00:00:00Z
QUARANTINE = "quarantine"
# the fields of the line grammar, in the order parse.all_fields gives them
CAST_FIELDS = ("ts", "level", "provider", "doc", "src", "n")

_WORKLOAD_SALT = {"route_fanout": 1, "token_pack": 2}
# token id k (0-based rank) has probability proportional to (k+1)**-1.2;
# drawn through a 2**20-entry inverse-CDF table, which keeps generation
# fast and moves no id's probability by more than 2**-20
_ZIPF_CDF = np.cumsum(1.0 / np.arange(1, VOCAB + 1) ** 1.2)
_ZIPF_TABLE = np.searchsorted(
    _ZIPF_CDF / _ZIPF_CDF[-1], (np.arange(1 << 20) + 0.5) / (1 << 20)
).astype(np.int32)
_BAD = re.compile(r'[:"*+/\\|?#%><]')


def sink_name(s: str) -> str:
    """The reference's sink-name rule, written independently of the
    program: ASCII lowercase, drop ``: " * + / \\ | ? # % > <``, spaces
    to ``_``, then trim leading ``_``, ``.`` and ``-`` in that order."""
    s = "".join(chr(ord(c) + 32) if "A" <= c <= "Z" else c for c in s)
    s = _BAD.sub("", s).replace(" ", "_")
    return s.lstrip("_").lstrip(".").lstrip("-")


def _sequences(rng: np.random.Generator, n: int, dup_share: float):
    n_tok = np.clip(np.rint(rng.lognormal(np.log(128), 1.0, n)), 1, MAX_TOK
                    ).astype(np.int32)
    offsets = np.zeros(n + 1, dtype=np.int64)
    np.cumsum(n_tok, out=offsets[1:])
    values = _ZIPF_TABLE[rng.integers(0, len(_ZIPF_TABLE), int(offsets[-1]))]
    if dup_share > 0:
        # each copy row takes the whole array of a uniformly chosen
        # earlier row; rebuild the flat value buffer in one pass
        copy = np.flatnonzero(rng.random(n) < dup_share)
        copy = copy[copy > 0]
        src_row = np.arange(n)
        src_row[copy] = (rng.random(len(copy)) * copy).astype(np.int64)
        # resolve chains (a copy of a copy) to the first original
        while True:
            nxt = src_row[src_row]
            if np.array_equal(nxt, src_row):
                break
            src_row = nxt
        n_tok = n_tok[src_row]
        new_off = np.zeros(n + 1, dtype=np.int64)
        np.cumsum(n_tok, out=new_off[1:])
        starts = np.repeat(offsets[src_row] - new_off[:-1], n_tok)
        values = values[np.arange(int(new_off[-1])) + starts]
        offsets = new_off
    source = SOURCES[rng.choice(len(SOURCES), n, p=SOURCE_P)]
    doc_id = np.array([f"doc-{i:08d}" for i in range(n)], dtype=object)
    return doc_id, n_tok, offsets, values, source


def _write(table: pa.Table, path: str, n_files: int) -> None:
    os.makedirs(path, exist_ok=True)
    n = table.num_rows
    step = -(-n // n_files)
    for k, lo in enumerate(range(0, n, step)):
        pq.write_table(table.slice(lo, step),
                       os.path.join(path, f"part-{k:03d}.parquet"))


def generate(workload: str, seed: int, n: int, out: str,
             n_files: int) -> dict:
    """Write ``out/sequences``, ``out/lines`` (route_fanout only) and the
    side table ``out/expected``, each as ``n_files`` parquet files (one
    scan split per core); returns the totals the checks need."""
    rng = np.random.default_rng([seed, _WORKLOAD_SALT[workload]])
    shutil.rmtree(out, ignore_errors=True)
    dup = DUP_SHARE if workload == "token_pack" else 0.0
    doc_id, n_tok, offsets, values, source = _sequences(rng, n, dup)
    tokens = pa.ListArray.from_arrays(
        pa.array(offsets.astype(np.int32)), pa.array(values, pa.int32()))
    seq = pa.table({
        "doc_id": pa.array(doc_id, pa.string()),
        "tokens": tokens,
        "n_tok": pa.array(n_tok, pa.int32()),
        "source": pa.array(source, pa.string()),
    })
    _write(seq, os.path.join(out, "sequences"), n_files)
    summary = {"n_rows": n}

    if workload == "token_pack":
        # ground truth by content: the first (lowest doc_id) row of every
        # distinct token array survives
        seen: dict[bytes, int] = {}
        for i in range(n):
            seen.setdefault(values[offsets[i]:offsets[i + 1]].tobytes(), i)
        keep = np.zeros(n, dtype=bool)
        keep[list(seen.values())] = True
        _write(pa.table({"doc_id": pa.array(doc_id, pa.string()),
                         "survivor": pa.array(keep)}),
               os.path.join(out, "expected"), n_files)
        summary["survivor_tok"] = int(n_tok[keep].sum())
        return summary

    pick = rng.integers(0, len(PROVIDERS), n)
    kind = np.searchsorted(np.cumsum([0.90, 0.05, 0.03]), rng.random(n),
                           side="right")  # 0 ok, 1 no provider, 2 bad, 3 num
    level = LEVELS[rng.integers(0, len(LEVELS), n)]
    ts = (np.datetime64(EPOCH_S, "s")
          + rng.integers(0, 86400 * 365, n).astype("timedelta64[s]"))
    ts = np.datetime_as_string(ts, unit="s")
    lines = np.empty(n, dtype=object)
    route = np.empty(n, dtype=object)
    # the cast value every field must come out as, None for quarantined
    # rows: timestamps as RFC 3339 with an explicit UTC offset, every
    # other field as the text it was written from
    cast = {f: np.full(n, None, dtype=object) for f in CAST_FIELDS}
    prov_route = [sink_name("evtx_" + p) for p in PROVIDERS]
    for i in range(n):
        src = source[i] or ""
        head = f"{ts[i]}Z {level[i]}"
        tail = f"doc={doc_id[i]} src={src} n={n_tok[i]}"
        k = kind[i]
        if k == 2:
            lines[i] = f"{ts[i]}Z !!corrupt record {i}"
            route[i] = QUARANTINE
            continue
        if k == 0:
            provider = PROVIDERS[pick[i]]
            route[i] = prov_route[pick[i]]
        elif k == 1:
            provider = None
            route[i] = "evtx_none"
        else:
            provider = "17"
            route[i] = "evtx_"
        lines[i] = (f"{head} {tail}" if provider is None
                    else f'{head} provider="{provider}" {tail}')
        for f, v in zip(CAST_FIELDS, (f"{ts[i]}+00:00", level[i], provider,
                                      doc_id[i], src, str(n_tok[i]))):
            cast[f][i] = v
    _write(pa.table({"doc_id": pa.array(doc_id, pa.string()),
                     "line": pa.array(lines, pa.string())}),
           os.path.join(out, "lines"), n_files)
    _write(pa.table({"doc_id": pa.array(doc_id, pa.string()),
                     "route": pa.array(route, pa.string()),
                     **{f"{f}__cast": pa.array(v, pa.string())
                        for f, v in cast.items()}}),
           os.path.join(out, "expected"), n_files)
    parsed = kind != 2
    summary["parsed_rows_tok"] = (int(parsed.sum()), int(n_tok[parsed].sum()))
    return summary
