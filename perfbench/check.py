"""Output checks, computed apart from the program.

``ingest`` is checked against the generator's manifest and a base-3 /
Goldman / Reed-Solomon codec written here from the reference's rules;
``serve`` and ``maintain`` against DuckDB running each query's oracle SQL
with ``tools/check_oracle.py``'s canonical compare.
"""
import glob
import hashlib
import importlib.util
import json
import os
import random
import sys

sys.set_int_max_str_digits(0)  # base-3 chunk values run to ~6000 digits

BASES = "ACGT"
LOG3_2 = 0.6309297535714574  # log(2) / log(3)


def utf8_cuts(data, size):
    """Slices of at most ``size`` bytes, each cut backed off to a code-point start."""
    out, start, n = [], 0, len(data)
    while start < n:
        end = min(start + size, n)
        while start < end < n and data[end] & 0xC0 == 0x80:
            end -= 1
        if end <= start:
            end = start + 1
        out.append(data[start:end])
        start = end
    return out


_POW3 = {}


def base3_len(chunk):
    """``len(BigInteger(1, chunk).toString(3))``."""
    n = int.from_bytes(chunk, "big")
    if n == 0:
        return 1
    d = max(1, int(n.bit_length() * LOG3_2))

    def p3(k):
        if k not in _POW3:
            _POW3[k] = 3 ** k
        return _POW3[k]
    while p3(d) <= n:
        d += 1
    while d > 1 and p3(d - 1) > n:
        d -= 1
    return d


def goldman_decode(dna, nbytes):
    """Rotation code back to trits (first base over ACG, then the three
    bases other than the previous one, in ACGT order), base 3 to bytes."""
    trits, prev = [], None
    for b in dna:
        alphabet = "ACG" if prev is None else [x for x in BASES if x != prev]
        trits.append(str(list(alphabet).index(b)))
        prev = b
    return int("".join(trits), 3).to_bytes(nbytes, "big")


# GF(2^8), primitive polynomial 0x11d, alpha = 2, fcr = 0
_EXP, _LOG = [0] * 512, [0] * 256
_x = 1
for _i in range(255):
    _EXP[_i], _LOG[_x] = _x, _i
    _x <<= 1
    if _x & 0x100:
        _x ^= 0x11D
for _i in range(255, 512):
    _EXP[_i] = _EXP[_i - 255]


def _mul(a, b):
    return 0 if a == 0 or b == 0 else _EXP[_LOG[a] + _LOG[b]]


def _generator(nsym):
    g = [1]
    for i in range(nsym):
        q = [1, _EXP[i]]
        r = [0] * (len(g) + 1)
        for j, gj in enumerate(g):
            for k, qk in enumerate(q):
                r[j + k] ^= _mul(gj, qk)
        g = r
    return g


_GENS = {}


def rs_ecc(data, nsym):
    """The reference's ``protected[len(data):]`` over 255-byte blocks."""
    if nsym not in _GENS:
        _GENS[nsym] = _generator(nsym)
    gen = _GENS[nsym]
    enc = bytearray()
    step = 255 - nsym
    for s in range(0, max(len(data), 1), step):
        block = list(data[s:s + step])
        rem = block + [0] * nsym
        for i in range(len(block)):
            c = rem[i]
            if c:
                for j in range(1, len(gen)):
                    rem[i + j] ^= _mul(gen[j], c)
        enc += bytes(block) + bytes(rem[len(block):])
    return bytes(enc[len(data):])


def _json_rows(d):
    rows = []
    for p in sorted(glob.glob(f"{d}/**/*.json", recursive=True)):
        with open(p, encoding="utf-8") as f:
            rows += [json.loads(line) for line in f if line.strip()]
    return rows


def ingest(manifest, pipe, waves_landed, seed):
    """Returns a list of error strings (empty when every check passes)."""
    import pyarrow.dataset as ds

    chunk, nsym = manifest["params"]["chunk"], manifest["params"]["nsym"]
    max_file_bytes = manifest["params"]["max_file_bytes"]
    errs = []
    landed = manifest["backlog"] + [f for w in manifest["waves"][:waves_landed] for f in w]
    by_md5 = {}
    for f in landed:  # first landing of each content is the one processed
        by_md5.setdefault(f["md5"], f)
    data = {}
    for f in landed:
        with open(f"{pipe}/input/{f['name']}", "rb") as fh:
            data[f["name"]] = fh.read()
        if hashlib.md5(data[f["name"]]).hexdigest() != f["md5"]:
            errs.append(f"input {f['name']} changed on disk")
    ok = {h: f for h, f in by_md5.items() if f["bytes"] <= max_file_bytes}
    big = {h: f for h, f in by_md5.items() if f["bytes"] > max_file_bytes}

    trk = ds.dataset(f"{pipe}/tracking", format="parquet", partitioning="hive").to_table().to_pylist()
    hashes = [r["file_hash"] for r in trk]
    if sorted(hashes) != sorted(by_md5):
        errs.append(f"tracking has {len(hashes)} rows for {len(by_md5)} distinct contents")
    for r in trk:
        want = "failed" if r["file_hash"] in big else "completed"
        if r["status"] != want:
            errs.append(f"tracking status {r['status']} for {r['file_path']}, want {want}")

    outs = sorted(os.listdir(f"{pipe}/output"))
    want_outs = sorted(f"processed_{f['name']}" for f in ok.values())
    if outs != want_outs:
        errs.append(f"{len(outs)} output files, want {len(want_outs)}")
    for f in ok.values():
        p = f"{pipe}/output/processed_{f['name']}"
        if os.path.exists(p):
            with open(p, "rb") as fh:
                if fh.read() != data[f["name"]]:
                    errs.append(f"output for {f['name']} differs from its input")

    dead_rows = _json_rows(f"{pipe}/dead_letter")
    dead = {r["file_hash"]: r for r in dead_rows}
    if len(dead_rows) != len(big) or sorted(dead) != sorted(big):
        errs.append(f"dead-letter holds {len(dead_rows)} files, want {len(big)}")
    for h, f in big.items():
        if h in dead and dead[h]["payload"].encode() != data[f["name"]]:
            errs.append(f"dead-letter payload of {f['name']} differs")

    reports = {r["file_hash"]: r for r in _json_rows(f"{pipe}/reports")}
    if sorted(reports) != sorted(ok):
        errs.append(f"{len(reports)} reports for {len(ok)} processed files")
    cuts = {}
    for h, f in ok.items():
        r = reports.get(h)
        if r is None:
            continue
        cuts[h] = utf8_cuts(data[f["name"]], chunk)
        if r["original_checksum"] != hashlib.md5(data[f["name"]]).hexdigest():
            errs.append(f"report checksum of {f['name']}")
        if r["dna_chunks_count"] != len(cuts[h]):
            errs.append(f"report of {f['name']}: {r['dna_chunks_count']} chunks, want {len(cuts[h])}")
        if r["total_dna_bases"] != sum(base3_len(c) for c in cuts[h]):
            errs.append(f"report of {f['name']}: total_dna_bases {r['total_dna_bases']}")

    # chunk rows: every chunk of three sampled files plus sampled rows of others
    rng = random.Random(seed)
    hs = sorted(cuts)
    small = [h for h in hs if len(cuts[h]) <= 40] or hs
    whole = set(rng.sample(small, min(3, len(small))))
    rows = []
    for h in hs:
        part = _json_rows(f"{pipe}/chunks/file_hash={h}")
        if len(part) != len(cuts[h]):
            errs.append(f"{len(part)} chunk rows for {ok[h]['name']}, want {len(cuts[h])}")
            continue
        part.sort(key=lambda r: r["idx"])
        if h in whole:
            rows += [(h, r) for r in part]
            got = b"".join(goldman_decode(r["dna_sequence"], r["chunk_nbytes"]) for r in part)
            if got != data[ok[h]["name"]]:
                errs.append(f"chunks of {ok[h]['name']} do not concatenate to the file")
        else:
            rows += [(h, part[rng.randrange(len(part))])]
    for h, r in rng.sample(rows, min(len(rows), 120)) + [x for x in rows if x[0] in whole]:
        dna = r["dna_sequence"]
        if any(a == b for a, b in zip(dna, dna[1:])):
            errs.append(f"homopolymer in {r['chunk_id']} of {ok[h]['name']}")
            continue
        raw = goldman_decode(dna, r["chunk_nbytes"])
        want = cuts[h][r["idx"]]
        if raw != want or hashlib.md5(raw).hexdigest() != r["checksum"]:
            errs.append(f"chunk {r['idx']} of {ok[h]['name']} does not decode to its bytes")
        if r["ecc_hex"] != rs_ecc(want, nsym).hex():
            errs.append(f"ecc of chunk {r['idx']} of {ok[h]['name']}")
    return errs[:20]


def _check_oracle_module(root):
    spec = importlib.util.spec_from_file_location("check_oracle", f"{root}/tools/check_oracle.py")
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def oracle(root, data_dir, results, names, spill_dir):
    """DuckDB runs each query's oracle SQL over the same parquet files."""
    import duckdb
    import pyarrow.dataset as ds

    co = _check_oracle_module(root)
    with open(f"{results}/oracle_sql.json", encoding="utf-8") as f:
        sqls = json.load(f)
    con = duckdb.connect()
    con.execute(f"SET temp_directory='{spill_dir}'")
    con.execute("SET threads=4")
    for t in ("documents", "embeddings", "events"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet')")
    errs, checked = [], 0
    for name in names:
        if name not in sqls:
            continue
        tbl = ds.dataset(f"{results}/{name}", format="parquet").to_table()
        s_names = tbl.column_names
        s_rows = [tuple(r[c] for c in s_names) for r in tbl.to_pylist()]
        try:
            d_tbl = con.execute(sqls[name]).fetch_arrow_table()
        except Exception as e:  # noqa: BLE001 - reported as a failed check
            errs.append(f"{name}: duckdb error {e}")
            continue
        d_names = d_tbl.column_names
        d_rows = [tuple(r[c] for c in d_names) for r in d_tbl.to_pylist()]
        sc, sr = co.canon(s_rows, s_names)
        dc, dr = co.canon(d_rows, d_names)
        if sc != dc:
            errs.append(f"{name}: columns {sc} != {dc}")
        elif co.type_parity(tbl, d_tbl):
            errs.append(f"{name}: type mismatch {co.type_parity(tbl, d_tbl)}")
        elif sr != dr:
            errs.append(f"{name}: {len(sr)} rows differ from DuckDB's {len(dr)}")
        checked += 1
    con.close()
    return errs, checked
