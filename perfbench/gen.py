"""Seeded input generator for the graft benchmark workloads.

Everything the engine sees is written here, from `--seed` alone: wave
files (one parquet file per wave, published later by `Driver.scala`
with `Tables.stageCopy`), the admission seed and benchmark corpora, and
the pipeline spec. The plain-table side files (`changelog.parquet`,
`offered.parquet`) are what the reference check in `check.py` reads; the
engine never reads them.
"""

import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# The sf0.1 corpus draws its text from a small technical vocabulary; the
# generator keeps that shape (short bag-of-words documents, 44-577 chars)
# so shingle, MinHash and embedding costs per document match the corpus
# the gate was tuned on.
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window index shard offset topic record schema "
    "commit snapshot replica tombstone cursor ledger bucket segment buffer "
    "latency quota tenant region cluster worker leader follower partition "
    "checkpoint watermark trigger sink source codec payload envelope"
).split()

def _words(rng, lo, hi):
    n = int(rng.integers(lo, hi))
    return " ".join(VOCAB[i] for i in rng.integers(0, len(VOCAB), n))


def _rotate(text, k):
    """Letter rotation (tools/ScaleData's replica method): a distinct
    document with the same length and token statistics."""
    out = []
    for ch in text:
        if "a" <= ch <= "z":
            out.append(chr((ord(ch) - 97 + k) % 26 + 97))
        else:
            out.append(ch)
    return "".join(out)


def _near(rng, text):
    """A near clone: one token replaced (Jaccard well above the gate's 0.5)."""
    toks = text.split()
    i = int(rng.integers(0, len(toks)))
    toks[i] = VOCAB[int(rng.integers(0, len(VOCAB)))]
    return " ".join(toks)


def _write(path, table):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path)


def _docs_table(ids, texts):
    return pa.table({"doc_id": pa.array(ids, pa.int64()),
                     "text": pa.array(texts, pa.string())})


# ---- cdc_upsert --------------------------------------------------------------

CDC_VALUE_DDL = ("id BIGINT, name STRING, qty INT, amount_cents BIGINT, "
                 "updated_ms BIGINT")
_CDC_VALUE_SCHEMA = json.dumps({
    "type": "struct", "optional": True, "name": "mysql.om.customers.Value",
    "fields": [
        {"field": "id", "type": "int64", "optional": False},
        {"field": "name", "type": "string", "optional": True},
        {"field": "qty", "type": "int32", "optional": True},
        {"field": "amount_cents", "type": "int64", "optional": True},
        {"field": "updated_ms", "type": "int64", "optional": True},
    ]}, separators=(",", ":"))
_CDC_KEY_SCHEMA = json.dumps({
    "type": "struct", "optional": False, "name": "mysql.om.customers.Key",
    "fields": [{"field": "id", "type": "int64", "optional": False}]},
    separators=(",", ":"))


def _zipf_keys(rng, n, key_space, perm):
    # Zipf(1.1) ranks folded into the key space, then scattered through a
    # seeded permutation so the hot keys are not the low ids
    ranks = rng.zipf(1.1, n) % key_space
    return perm[ranks]


def gen_cdc(root, rng, cfg, n_waves):
    key_space = cfg["key_space"]
    per_wave = cfg["wave_records"]
    perm = rng.permutation(key_space).astype(np.int64) + 1
    waves, log_cols = [], {k: [] for k in (
        "wave", "offset", "id", "is_delete", "name", "qty", "amount_cents",
        "updated_ms")}
    offset = 0
    ts = 1_700_000_000_000
    for w in range(n_waves):
        ids = _zipf_keys(rng, per_wave, key_space, perm)
        deletes = rng.random(per_wave) < cfg["delete_frac"]
        qty = rng.integers(0, 1000, per_wave)
        cents = rng.integers(0, 10_000_000, per_wave)
        name_ix = rng.integers(0, len(VOCAB), per_wave)
        keys, values, offsets = [], [], []
        for j in range(per_wave):
            i = int(ids[j])
            ts += int(rng.integers(1, 50))
            keys.append('{"schema":%s,"payload":{"id":%d}}' % (_CDC_KEY_SCHEMA, i))
            if deletes[j]:
                values.append(None)
                nm, q, c = None, None, None
            else:
                nm = "%s-%d" % (VOCAB[int(name_ix[j])], i % 97)
                q, c = int(qty[j]), int(cents[j])
                values.append(
                    '{"schema":%s,"payload":{"id":%d,"name":"%s","qty":%d,'
                    '"amount_cents":%d,"updated_ms":%d}}'
                    % (_CDC_VALUE_SCHEMA, i, nm, q, c, ts))
            offsets.append(offset)
            for k, v in (("wave", w), ("offset", offset), ("id", i),
                         ("is_delete", bool(deletes[j])), ("name", nm),
                         ("qty", q), ("amount_cents", c),
                         ("updated_ms", None if deletes[j] else ts)):
                log_cols[k].append(v)
            offset += 1
        path = os.path.join(root, "waves", "wave%03d.parquet" % w)
        _write(path, pa.table({
            "key": pa.array(keys, pa.string()),
            "value": pa.array(values, pa.string()),
            "topic": pa.array(["mysql.om.customers"] * per_wave, pa.string()),
            "offset": pa.array(offsets, pa.int64())}))
        waves.append({"path": path, "records": per_wave})
    _write(os.path.join(root, "changelog.parquet"), pa.table({
        "wave": pa.array(log_cols["wave"], pa.int32()),
        "offset": pa.array(log_cols["offset"], pa.int64()),
        "id": pa.array(log_cols["id"], pa.int64()),
        "is_delete": pa.array(log_cols["is_delete"], pa.bool_()),
        "name": pa.array(log_cols["name"], pa.string()),
        "qty": pa.array(log_cols["qty"], pa.int32()),
        "amount_cents": pa.array(log_cols["amount_cents"], pa.int64()),
        "updated_ms": pa.array(log_cols["updated_ms"], pa.int64())}))
    return waves


def cdc_spec(name, root, cfg):
    return {
        "name": name,
        "source": {"type": "parquet", "path": os.path.join(root, "in"),
                   "wireFormat": "json_envelope", "schemaDdl": CDC_VALUE_DDL,
                   "keyFields": ["id"], "seqColumn": "offset",
                   "topic": "mysql.om.customers",
                   "maxFilesPerTrigger": "1"},
        "transforms": [
            {"type": "regexRouter", "pattern": "mysql\\.om\\.(.*)",
             "replacement": "$1"},
            {"type": "timestampConverter", "field": "updated_ms",
             "target": "Timestamp"},
            {"type": "insertField", "field": "ingest_tag",
             "value": "'perfbench'"},
        ],
        "sink": {"type": "logtable", "path": os.path.join(root, "sink"),
                 "keys": ["id"]},
    }


# ---- admission workloads -----------------------------------------------------

_DOC_ROW_SCHEMA = {"type": "struct", "optional": True, "fields": [
    {"field": "doc_id", "type": "int64", "optional": True},
    {"field": "text", "type": "string", "optional": True}]}
_DOC_ENV_SCHEMA = json.dumps({
    "type": "struct", "optional": False, "name": "corpus.Envelope",
    "fields": [dict(_DOC_ROW_SCHEMA, field="before"),
               dict(_DOC_ROW_SCHEMA, field="after"),
               {"field": "op", "type": "string", "optional": False}]},
    separators=(",", ":"))
DOC_CDC_DDL = ("before STRUCT<doc_id BIGINT, text STRING>, "
               "after STRUCT<doc_id BIGINT, text STRING>, op STRING")

# (plant kind, expected DLQ stage, expected DLQ reason)
BAD_PLANTS = [
    ("malformed", "VALUE_CONVERTER", "malformed_envelope"),
    ("null_key", "ADMISSION_GATE", "null_key"),
    ("null_text", "ADMISSION_GATE", "null_text"),
    ("oversized", "ADMISSION_GATE", "oversized"),
]


def _corpus(rng, n, id0, rotate_every=0):
    texts = []
    for i in range(n):
        t = _words(rng, 8, 90)
        if rotate_every and i % rotate_every == 0:
            t = _rotate(t, 1 + i % 25)
        texts.append(t)
    return list(range(id0, id0 + n)), texts


def gen_admission(root, rng, cfg, n_waves):
    seed_ids, seed_texts = _corpus(rng, cfg["seed_docs"], 0, rotate_every=3)
    _write(os.path.join(root, "seed", "part-0.parquet"),
           _docs_table(seed_ids, seed_texts))
    b_ids, bench_texts = _corpus(rng, cfg["bench_docs"], 50_000_000)
    _write(os.path.join(root, "bench", "part-0.parquet"),
           _docs_table(b_ids, bench_texts))
    offered = {k: [] for k in ("wave", "offset", "doc_id", "text", "plant",
                               "stage", "reason")}
    waves = []
    earlier_texts = []
    offset = 10_000_000
    per_wave = cfg["wave_docs"]
    for w in range(n_waves):
        rows = []  # (doc_id, text, plant)
        n_exact = max(1, int(per_wave * cfg["exact_frac"]))
        n_near = max(1, int(per_wave * cfg["near_frac"]))
        n_bench = int(per_wave * cfg["bench_frac"])
        n_bad = int(per_wave * cfg["bad_frac"])
        n_fresh = per_wave - n_exact - n_near - n_bench - n_bad
        base_id = 1_000_000 + w * 100_000
        for j in range(n_fresh):
            rows.append((base_id + j, _words(rng, 8, 90), "fresh"))
        pool = seed_texts + earlier_texts
        for j in range(n_exact):
            rows.append((base_id + 20_000 + j,
                         pool[int(rng.integers(0, len(pool)))], "exact"))
        for j in range(n_near):
            rows.append((base_id + 40_000 + j,
                         _near(rng, seed_texts[int(rng.integers(0, len(seed_texts)))]),
                         "near"))
        for j in range(n_bench):
            rows.append((base_id + 60_000 + j,
                         bench_texts[int(rng.integers(0, len(bench_texts)))],
                         "bench"))
        for j in range(n_bad):
            kind = BAD_PLANTS[j % len(BAD_PLANTS)][0]
            if kind == "malformed":
                rows.append((None, None, kind))
            elif kind == "null_key":
                rows.append((None, _words(rng, 8, 40), kind))
            elif kind == "null_text":
                rows.append((base_id + 80_000 + j, None, kind))
            else:
                rows.append((base_id + 80_000 + j,
                             ("oversized " * (cfg["max_doc_chars"] // 10 + 20)).strip(),
                             kind))
        order = rng.permutation(len(rows))
        rows = [rows[i] for i in order]
        earlier_texts.extend(t for (_, t, p) in rows if p == "fresh")
        path = os.path.join(root, "waves", "wave%03d.parquet" % w)
        keys, values, offs = [], [], []
        for (doc_id, text, plant) in rows:
            if plant == "malformed":
                keys.append(None)
                values.append('not an envelope ### {"broken %d' % offset)
            else:
                keys.append(None if doc_id is None else '{"doc_id":%d}' % doc_id)
                after = json.dumps({"doc_id": doc_id, "text": text},
                                   separators=(",", ":"))
                values.append('{"schema":%s,"payload":{"before":null,'
                              '"after":%s,"op":"c"}}' % (_DOC_ENV_SCHEMA, after))
            offs.append(offset)
            offset += 1
        _write(path, pa.table({
            "key": pa.array(keys, pa.string()),
            "value": pa.array(values, pa.string()),
            "topic": pa.array(["corpus"] * len(rows), pa.string()),
            "offset": pa.array(offs, pa.int64())}))
        for (doc_id, text, plant), off in zip(rows, offs):
            stage, reason = next(((s, r) for (k, s, r) in BAD_PLANTS if k == plant),
                                 (None, None))
            for k, v in (("wave", w), ("offset", off), ("doc_id", doc_id),
                         ("text", text), ("plant", plant), ("stage", stage),
                         ("reason", reason)):
                offered[k].append(v)
        waves.append({"path": path, "records": len(rows)})
    _write(os.path.join(root, "offered.parquet"), pa.table({
        "wave": pa.array(offered["wave"], pa.int32()),
        "offset": pa.array(offered["offset"], pa.int64()),
        "doc_id": pa.array(offered["doc_id"], pa.int64()),
        "text": pa.array(offered["text"], pa.string()),
        "plant": pa.array(offered["plant"], pa.string()),
        "stage": pa.array(offered["stage"], pa.string()),
        "reason": pa.array(offered["reason"], pa.string())}))
    return waves


def admission_spec(name, root, cfg):
    """The ten-axis gate (l14's sink keys) behind l16's wire transport:
    converter decode, Debezium unwrap, errors.tolerance=all with the
    gate DLQ and the oversized bound."""
    gate = os.path.join(root, "gate")
    bench = os.path.join(root, "bench")
    return {
        "name": name,
        "source": {"type": "parquet", "path": os.path.join(root, "in"),
                   "wireFormat": "json_envelope", "schemaDdl": DOC_CDC_DDL,
                   "keyFields": ["after"], "topic": "corpus",
                   "decodeParallelism": str(cfg["decode_parallelism"]),
                   "maxFilesPerTrigger": "1"},
        "transforms": [{"type": "extractNewRecordState"}],
        "sink": {"type": "admission", "path": gate,
                 "seedPath": os.path.join(root, "seed"),
                 "fused": "true", "containment": "true", "semantic": "true",
                 "media": "true", "benchPath": bench, "benchMediaPath": bench,
                 "errorsTolerance": "all",
                 "maxDocChars": str(cfg["max_doc_chars"])},
    }


# ---- one run's inputs --------------------------------------------------------

def build(workload, cfg, seed, seconds, work, trace):
    """Generate the measured inputs (from `seed`) and the warm-up inputs
    (from a derived seed, under their own paths) and return the manifest
    `Driver.scala` runs from. The traced run drains one cycle only: it
    drains three more times besides (see `Driver.scala`)."""
    rate = cfg["offered_rps"]
    per_wave = cfg.get("wave_records") or cfg["wave_docs"]
    period_ms = 1000.0 * per_wave / rate
    n_backlog = cfg["backlog_waves"]
    cycles = 1 if trace else cfg["drain_cycles"]
    n_paced = int(seconds * 1000.0 // period_ms) + 1

    def one(tag, s, n_waves, corpus_scale=1.0, wave_records=None):
        root = os.path.join(work, tag)
        rng = np.random.default_rng(s)
        c = dict(cfg)
        if workload == "cdc_upsert":
            c["wave_records"] = wave_records or c["wave_records"]
            waves = gen_cdc(root, rng, c, n_waves)
            spec = cdc_spec("perf_" + tag, root, c)
        else:
            c["seed_docs"] = max(50, int(c["seed_docs"] * corpus_scale))
            c["bench_docs"] = max(10, int(c["bench_docs"] * corpus_scale))
            waves = gen_admission(root, rng, c, n_waves)
            spec = admission_spec("perf_" + tag, root, c)
        return {"root": root, "waves": waves, "spec": json.dumps(spec)}

    measured = one("measured", seed, n_backlog * cycles + n_paced)
    # the logtable reader's lookups, 16 keys per read from the key space.
    # One read per wave period, due with each wave: every paced trigger
    # runs beside a read from its start, so the reads load the writes
    # alike from wave to wave and from run to run (a read due half a
    # period later overlapped only the triggers that ran long)
    read_keys = []
    if workload == "cdc_upsert":
        read_keys = np.random.default_rng(seed + 1).integers(
            1, cfg["key_space"] + 1, (n_paced, 16)).tolist()
    # the warm-up runs the measured pipeline's spec on its own waves, each
    # its own trigger: by default one drain cycle's worth (on admit_full,
    # with the admission gate's seed and benchmark corpora scaled down,
    # which shortens its bootstrap); on cdc_upsert half a cycle of small
    # waves, so it warms decode, SMT chain, append and reads but not
    # compaction, which the first drain cycle meets cold and the median
    # over cycles leaves out. The traced run drains a single cycle, right
    # after the warm-up, as its untraced baseline: it keeps the full
    # cycle-shaped warm-up, so that drain is not the coldest
    short = not trace
    warm = one("warmup", seed * 7919 + 104729,
               cfg.get("warmup_waves", n_backlog) if short else n_backlog,
               corpus_scale=cfg.get("warmup_corpus_scale", 1.0),
               wave_records=cfg.get("warmup_wave_records") if short else None)
    return {
        "workload": workload,
        "seconds": seconds,
        "period_ms": period_ms,
        "read_keys": read_keys,
        "backlog_waves": n_backlog,
        "drain_cycles": cycles,
        "measured": measured,
        "warmup": warm,
        "replay_waves": cfg["replay_waves"],
    }
