"""Seeded input generators for the benchmark workloads.

Every generator takes a numpy Generator built from the run's seed, writes
its parquet files and returns the measured share of each input property it
was asked to produce, so the results record what the inputs really held.
"""
import json
import os

import duckdb
import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SPLITS = [("train", 6), ("tuning", 1), ("held_out", 1)]
STATIC_CODES = ["EYE_COLOR//BLUE", "EYE_COLOR//BROWN", "EYE_COLOR//GREEN", "EYE_COLOR//HAZEL"]
OUTLIER_SHARE = 0.01
US_PER_DAY = 86_400_000_000
EPOCH_1940 = -946_771_200_000_000  # 1940-01-01 in microseconds
EPOCH_2024 = 1_704_067_200_000_000


def zipf_probs(n, s):
    p = 1.0 / np.arange(1, n + 1) ** s
    return p / p.sum()


def meds_codes(n_codes):
    """Codes with a `//` hierarchy; even Zipf ranks are numeric (labs and
    vitals), so about half of the events carry a value."""
    codes, numeric = [], []
    for r in range(n_codes):
        if r % 2 == 0:
            kind = "LAB" if r % 4 == 0 else "VITAL"
            numeric.append(True)
        else:
            kind = ("DX", "RX", "PROC")[r % 3]
            numeric.append(False)
        codes.append(f"{kind}//{r % 41:02d}//{r:04d}")
    return codes, np.array(numeric)


def meds_root(path, rng, n_subjects, visits_mean, per_visit_mean,
              n_codes=1800, zipf_s=1.1):
    codes, numeric = meds_codes(n_codes)
    probs = zipf_probs(n_codes, zipf_s)
    mu = rng.uniform(1.0, 200.0, n_codes)
    sd = mu * rng.uniform(0.05, 0.3, n_codes)

    subjects = rng.choice(9_000_000, n_subjects, replace=False).astype(np.int64) + 1_000_000
    order = rng.permutation(n_subjects)
    n_train = int(round(0.8 * n_subjects))
    n_tune = int(round(0.1 * n_subjects))
    split_of = np.empty(n_subjects, dtype=object)
    split_of[order[:n_train]] = "train"
    split_of[order[n_train:n_train + n_tune]] = "tuning"
    split_of[order[n_train + n_tune:]] = "held_out"

    # 5% of subjects have too few events to pass filter_subjects(min 5)
    sparse = rng.random(n_subjects) < 0.05
    n_visits = np.where(sparse, rng.integers(1, 3, n_subjects),
                        3 + rng.poisson(max(visits_mean - 3, 0), n_subjects))
    birth = EPOCH_1940 + rng.integers(0, 60 * 365, n_subjects) * US_PER_DAY \
        + rng.integers(0, US_PER_DAY, n_subjects)

    cols = {"subject_id": [], "time": [], "code": [], "numeric_value": [], "split": []}
    stats = {"events": 0, "numeric": 0, "outliers": 0}
    for i in range(n_subjects):
        sid, sp = subjects[i], split_of[i]
        rows_sid, rows_t, rows_c, rows_v = [], [], [], []
        rows_sid += [sid, sid]
        rows_t += [None, int(birth[i])]
        rows_c += [STATIC_CODES[rng.integers(len(STATIC_CODES))], "MEDS_BIRTH"]
        rows_v += [None, None]
        span = max(EPOCH_2024 - birth[i] - 365 * US_PER_DAY, US_PER_DAY)
        times = np.sort(birth[i] + 365 * US_PER_DAY
                        + rng.integers(0, span, n_visits[i]))
        times = times - times % 60_000_000  # minute resolution
        for t in np.unique(times):
            k = 1 + rng.poisson(per_visit_mean - 1)
            cs = rng.choice(n_codes, k, p=probs)
            for c in cs:
                v = None
                if numeric[c]:
                    if rng.random() < OUTLIER_SHARE:
                        v = mu[c] + sd[c] * rng.uniform(12.0, 20.0)
                        stats["outliers"] += 1
                    else:
                        v = mu[c] + sd[c] * float(np.clip(rng.standard_normal(), -3, 3))
                    stats["numeric"] += 1
                rows_sid.append(sid)
                rows_t.append(int(t))
                rows_c.append(codes[c])
                rows_v.append(v)
        stats["events"] += len(rows_sid) - 2
        cols["subject_id"] += rows_sid
        cols["time"] += rows_t
        cols["code"] += rows_c
        cols["numeric_value"] += rows_v
        cols["split"] += [sp] * len(rows_sid)

    schema = pa.schema([
        pa.field("subject_id", pa.int64(), nullable=False),
        pa.field("time", pa.timestamp("us")),
        pa.field("code", pa.string(), nullable=False),
        pa.field("numeric_value", pa.float32()),
    ])
    table = pa.table({k: cols[k] for k in ("subject_id", "time", "code", "numeric_value")},
                     schema=schema)
    split_col = np.array(cols["split"], dtype=object)
    sid_col = np.array(cols["subject_id"], dtype=np.int64)
    for split, n_shards in SPLITS:
        ids = np.sort(subjects[split_of == split])
        for shard, part in enumerate(np.array_split(ids, n_shards)):
            mask = (split_col == split) & np.isin(sid_col, part)
            d = os.path.join(path, "data", split)
            os.makedirs(d, exist_ok=True)
            pq.write_table(table.filter(pa.array(mask)), os.path.join(d, f"{shard}.parquet"))

    meta = os.path.join(path, "metadata")
    os.makedirs(meta, exist_ok=True)
    pq.write_table(pa.table({
        "code": codes,
        "description": [f"{c.split('//')[0].lower()} item {c.split('//')[-1]}" for c in codes],
        "parent_codes": [[c.rsplit("//", 1)[0]] for c in codes],
    }, schema=pa.schema([pa.field("code", pa.string(), nullable=False),
                         pa.field("description", pa.string()),
                         pa.field("parent_codes", pa.list_(pa.string()))])),
        os.path.join(meta, "codes.parquet"))
    pq.write_table(pa.table({"subject_id": subjects, "split": list(split_of)},
                            schema=pa.schema([pa.field("subject_id", pa.int64(), nullable=False),
                                              pa.field("split", pa.string(), nullable=False)])),
                   os.path.join(meta, "subject_splits.parquet"))
    with open(os.path.join(meta, "dataset.json"), "w") as f:
        json.dump({"dataset_name": "perfbench_meds", "dataset_version": "1"}, f)

    code_col = table.column("code").to_pylist()
    used = set(code_col) - set(STATIC_CODES) - {"MEDS_BIRTH"}
    top = probs[:max(1, n_codes // 100)].sum()
    return {
        "rows": table.num_rows,
        "subjects": n_subjects,
        "shards": sum(n for _, n in SPLITS),
        "split_share": {s: float(np.mean(split_of == s)) for s, _ in SPLITS},
        "codes_used": len(used),
        "zipf_s": zipf_s,
        "top1pct_code_mass": float(top),
        "numeric_share": stats["numeric"] / max(stats["events"], 1),
        "outlier_share_of_numeric": stats["outliers"] / max(stats["numeric"], 1),
        "sparse_subject_share": float(np.mean(sparse)),
        "birth_rows_per_subject": code_col.count("MEDS_BIRTH") / n_subjects,
        "static_rows_per_subject": table.column("time").null_count / n_subjects,
    }


# The gate suite's tables follow the shape of the repository's testdata
# tables at scale factor `sf` (events, documents and embeddings; the TPC-H
# tables feed none of the suite's gates). table_properties measures both.
WORDS = ("a agg batch big column customer data fast filter group hash join key line "
         "merge order part query row scan slow small sort spark stream table the "
         "value vector window").split()
EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
LANGS = (["en", "de", "fr", "es", "zh"], [0.42, 0.145, 0.145, 0.145, 0.145])


def sf_tables(path, rng, sf, dim=64, labels=10):
    """events, documents and embeddings in the testdata schema and shape:
    uniform users and event types, Poisson arrivals over 30 days,
    exponential values; texts of 10-99 words drawn uniformly from a
    30-word vocabulary, 5% of them exactly another document's text plus " dup";
    isotropic unit vectors with labels drawn independently of them."""
    os.makedirs(path, exist_ok=True)
    n_events = int(round(1_000_000 * sf))
    n_users = max(int(round(15_000 * sf)), 1)
    n_docs = max(int(round(50_000 * sf)), 500)
    n_vecs = max(int(round(20_000 * sf)), 500)

    gaps = rng.exponential(30 * US_PER_DAY / n_events, n_events)
    pq.write_table(pa.table({
        "event_id": pa.array(np.arange(n_events), pa.int64()),
        "ts": pa.array(EPOCH_2024 + np.cumsum(gaps).astype(np.int64), pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, n_users, n_events), pa.int64()),
        "event_type": list(rng.choice(EVENT_TYPES, n_events)),
        "value": np.round(rng.exponential(50.0, n_events), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)],
    }), os.path.join(path, "events.parquet"))

    words = np.array(WORDS)
    texts = [" ".join(rng.choice(words, n)) for n in rng.integers(10, 100, n_docs)]
    base = list(texts)
    for i in rng.choice(n_docs, n_docs // 20, replace=False):
        texts[i] = base[rng.integers(n_docs)] + " dup"
    pq.write_table(pa.table({
        "doc_id": pa.array(np.arange(n_docs), pa.int64()),
        "text": texts,
        "lang": list(rng.choice(LANGS[0], n_docs, p=LANGS[1])),
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    }), os.path.join(path, "documents.parquet"))

    vecs = rng.standard_normal((n_vecs, dim))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    pq.write_table(pa.table({
        "vec_id": pa.array(np.arange(n_vecs), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, labels, n_vecs), pa.int32()),
    }), os.path.join(path, "embeddings.parquet"))
    return dict(table_properties(path), sf=sf)


def table_properties(path):
    """The measured shape of the events, documents and embeddings tables in
    `path`, so generated tables can be set beside the testdata ones."""
    con = duckdb.connect()
    con.execute("SET threads TO 2")

    def one(sql):
        return con.sql(sql).fetchone()

    ev, docs, emb = (f"'{os.path.join(path, t)}.parquet'"
                     for t in ("events", "documents", "embeddings"))
    n, users, per_user_cv, type_share, value_mean, value_median, gap_cv, span_d = one(f"""
      SELECT (SELECT count(*) FROM {ev}), (SELECT count(DISTINCT user_id) FROM {ev}),
        (SELECT stddev_pop(c) / avg(c) FROM (SELECT count(*) c FROM {ev} GROUP BY user_id)),
        (SELECT max(c) / sum(c) FROM (SELECT count(*) c FROM {ev} GROUP BY event_type)),
        (SELECT avg(value) FROM {ev}), (SELECT median(value) FROM {ev}),
        (SELECT stddev_pop(g) / avg(g) FROM (SELECT epoch_us(ts) - lag(epoch_us(ts))
           OVER (ORDER BY ts) g FROM {ev})),
        (SELECT (epoch_us(max(ts)) - epoch_us(min(ts))) / 86400e6 FROM {ev})""")
    n_docs, vocab, w10, w50, w90, dup_share, exact_share, en_share = one(f"""
      WITH w AS (SELECT doc_id, string_split(text, ' ') ws FROM {docs})
      SELECT (SELECT count(*) FROM {docs}),
        (SELECT count(DISTINCT x) FROM (SELECT unnest(ws) x FROM w)),
        (SELECT quantile_disc(len(ws), 0.1) FROM w), (SELECT median(len(ws)) FROM w),
        (SELECT quantile_disc(len(ws), 0.9) FROM w),
        (SELECT avg(CAST(text LIKE '% dup' AS INT)) FROM {docs}),
        (SELECT 1 - count(DISTINCT text) / count(*) FROM {docs}),
        (SELECT avg(CAST(lang = 'en' AS INT)) FROM {docs})""")
    n_vecs, dims, n_labels = one(
        f"SELECT count(*), max(len(embedding)), count(DISTINCT label) FROM {emb}")
    x = np.array(con.sql(f"SELECT embedding FROM {emb} ORDER BY vec_id").fetchnumpy()
                 ["embedding"].tolist(), dtype=np.float64)
    lab = con.sql(f"SELECT label FROM {emb} ORDER BY vec_id").fetchnumpy()["label"]
    # the norm of each label's mean vector: about 1/sqrt(vectors per label)
    # when labels carry no signal, near 1 for tight clusters
    centroid = float(np.mean([np.linalg.norm(x[lab == k].mean(axis=0)) for k in set(lab)]))
    return {
        "rows": n + n_docs + n_vecs,
        "events": n, "users": users, "events_per_user_cv": per_user_cv,
        "top_event_type_share": type_share, "value_mean": value_mean,
        "value_median": value_median, "arrival_gap_cv": gap_cv, "span_days": span_d,
        "documents": n_docs, "vocabulary": vocab, "words_p10_p50_p90": [w10, w50, w90],
        "near_dup_share": dup_share, "exact_dup_share": exact_share, "en_share": en_share,
        "embeddings": n_vecs, "dims": dims, "labels": n_labels,
        "label_centroid_norm": centroid,
    }
