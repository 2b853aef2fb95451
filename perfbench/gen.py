"""Seeded input generator for the benchmark.

Everything the engine reads is written here, from the seed alone:

- dims: the four `Dims.fromParquet` tables as parquet. They are a fixed
  catalog (the same for every seed: reference data does not change between
  requests), extended with the committed golden fixture's dim rows so the
  golden request replays through the same dims. Texts are real multilingual
  sentences, about one summary in eight is empty (so the language default
  and the LLM bypass fire), one diag code appears twice (join fan-out) and
  some items map to group 0 or to no group at all ("Others").
- request records: LANG_NO 1-4 plus 3% unknown values, 2% records with
  only blank comments, Zipf-distributed item and diag codes, empty / blank /
  null comments, full-width punctuation, CR/LF inside comments and duplicate
  findings.
- curation documents: English-like texts over a random vocabulary, with
  planted duplicates (same tokens, different spacing) and short documents
  the quality filter drops.

Each generator also returns what a correct engine must output, for the
benchmark's correctness gate.
"""

import bisect
import json
import os
import random

import pyarrow as pa
import pyarrow.parquet as pq

CATALOG_SEED = 20240611
N_ITEMS = 120
N_DIAGS = 300
N_SUMMARIES = 80
ORGS = ["ORG_A", "ORG_B", "ORG_C", "ORG_D"]

GROUPS = [  # (TC, EN, JP, SC)
    ("一般檢查", "General", "一般検査", "一般检查"),
    ("血液檢查", "Blood", "血液検査", "血液检查"),
    ("心臟功能", "Cardiac", "心機能", "心脏功能"),
    ("肝膽功能", "Liver", "肝胆機能", "肝胆功能"),
    ("腎臟功能", "Kidney", "腎機能", "肾脏功能"),
    ("影像檢查", "Imaging", "画像検査", "影像检查"),
    ("眼科檢查", "Eye", "眼科検査", "眼科检查"),
    ("代謝檢查", "Metabolic", "代謝検査", "代谢检查"),
]

ORGANS = [  # (TC, EN, JP, SC)
    ("肝臟", "liver", "肝臓", "肝脏"), ("腎臟", "kidney", "腎臓", "肾脏"),
    ("心臟", "heart", "心臓", "心脏"), ("甲狀腺", "thyroid", "甲状腺", "甲状腺"),
    ("膽囊", "gallbladder", "胆のう", "胆囊"), ("血脂", "blood lipids", "血中脂質", "血脂"),
    ("血糖", "blood sugar", "血糖", "血糖"), ("血壓", "blood pressure", "血圧", "血压"),
    ("視力", "vision", "視力", "视力"), ("肺部", "lungs", "肺", "肺部"),
]
ACTIONS = [  # format with organ and months, per language
    ("建議{m}個月後追蹤{o}", "Recommend a {o} follow-up in {m} months.",
     "{m}ヶ月後に{o}の再検査を推奨します。", "建议{m}个月后追踪{o}"),
    ("{o}數值略高，請於{m}個月內複檢", "{o} values are slightly high; recheck within {m} months.",
     "{o}の数値がやや高いため、{m}ヶ月以内に再検査してください。", "{o}数值略高，请于{m}个月内复检"),
    ("請至專科門診評估{o}狀況", "Please see a specialist to assess your {o}.",
     "専門外来で{o}の状態を評価してください。", "请至专科门诊评估{o}状况"),
    ("{o}輕度異常，建議調整飲食並{m}個月後複查", "Mild {o} abnormality; adjust diet and recheck in {m} months.",
     "{o}に軽度の異常があります。食事を見直し{m}ヶ月後に再検査してください。",
     "{o}轻度异常，建议调整饮食并{m}个月后复查"),
]
COMMENTS = [
    "檢查（正常） 結果", "數值：{n}\r\n需追蹤！", "{o}超音波：輕度脂肪肝", "血壓 {n}／80 mmHg",
    "value {n} mg/dL (high)", "mild {o} change, see note", "テスト（値） {n}",
    "简体 说明：{o}正常", "結果【異常】：{n}％", "{o}　影像無明顯異常", "LDL＝{n}，建議複檢",
    "follow up\nin clinic", "空腹血糖：{n}～{m}", "ＡＬＴ {n} Ｕ／Ｌ", "no acute finding",
]


def _zipf_cum(n, s=1.1):
    acc, out = 0.0, []
    for k in range(n):
        acc += 1.0 / (k + 1) ** s
        out.append(acc)
    return out


ITEM_CUM = _zipf_cum(N_ITEMS)
DIAG_CUM = _zipf_cum(N_DIAGS)
SUMMARY_CUM = _zipf_cum(N_SUMMARIES)


def _pick(rng, cum):
    return bisect.bisect_left(cum, rng.random() * cum[-1])


def item_code(k):
    return "IT%03d" % k


def diag_code(k):
    return "DG%04d" % k


def summary_code(k):
    return "SM%03d" % k


def _read_jsonl(path):
    with open(path, encoding="utf-8") as f:
        return [json.loads(line) for line in f if line.strip()]


def _write_parquet(rows, columns, path, int_cols=()):
    arrays = []
    for c in columns:
        vals = [r.get(c) for r in rows]
        if c in int_cols:
            arrays.append(pa.array([None if v is None else int(v) for v in vals], pa.int32()))
        else:
            arrays.append(pa.array(vals, pa.string()))
    pq.write_table(pa.table(arrays, names=columns), path)


def catalog():
    """The fixed dim catalog as row dicts per table, before the fixture."""
    rng = random.Random(CATALOG_SEED)
    summary = []
    for k in range(N_SUMMARIES):
        if k % 8 == 5:
            texts = ("", "", "", "")
        else:
            o = ORGANS[k % len(ORGANS)]
            a = ACTIONS[(k // len(ORGANS)) % len(ACTIONS)]
            m = 3 + (k % 4) * 3
            texts = tuple(a[i].format(o=o[i], m=m) for i in range(4))
        summary.append({"SUMMARY_CODE": summary_code(k), "TCNAME_SUMMARY": texts[0],
                        "ENNAME_SUMMARY": texts[1], "JPNAME_SUMMARY": texts[2],
                        "SCNAME_SUMMARY": texts[3]})
    diag = []
    for k in range(N_DIAGS):
        o = ORGANS[rng.randrange(len(ORGANS))]
        n = rng.randrange(10, 200)
        diag.append({"DIAG_CODE": diag_code(k), "SUMMARY_CODE": summary_code(_pick(rng, SUMMARY_CUM)),
                     "SCNAME_COMMENT": "%s指标 %d" % (o[3], n),
                     "ENNAME_COMMENT": "%s marker %d" % (o[1], n),
                     "JPNAME_COMMENT": "%s指標 %d" % (o[2], n)})
    # one duplicate dim key: the join fans the fact row out
    diag.append(dict(diag[2], SUMMARY_CODE=summary_code(1)))
    meta, group = [], []
    for k in range(N_ITEMS):
        for org in ORGS[:3]:
            meta.append({"ITEM_CODE": item_code(k), "TCNAME_ITEM": "項目%03d" % k,
                         "SCNAME_ITEM": "项目%03d" % k, "JPNAME_ITEM": "項目%03dJP" % k,
                         "ENNAME_ITEM": "Item %03d" % k, "ORG_ID": org})
        if k % 17 == 16:
            continue  # no group row: renders under "Others"
        g = 0 if k % 13 == 12 else 1 + k % len(GROUPS)
        names = GROUPS[(g - 1) % len(GROUPS)] if g else ("", "", "", "")
        group.append({"ITEM_CODE": item_code(k), "GROUPNO": g, "TCNAME_GROUP": names[0],
                      "ENNAME_GROUP": names[1], "JPNAME_GROUP": names[2],
                      "SCNAME_GROUP": names[3]})
    return {"item_meta": meta, "item_group_map": group, "diag_tbl": diag,
            "summary_tbl": summary}


DIM_COLUMNS = {
    "item_meta": ["ITEM_CODE", "TCNAME_ITEM", "SCNAME_ITEM", "JPNAME_ITEM", "ENNAME_ITEM", "ORG_ID"],
    "item_group_map": ["ITEM_CODE", "GROUPNO", "TCNAME_GROUP", "ENNAME_GROUP", "JPNAME_GROUP",
                       "SCNAME_GROUP"],
    "diag_tbl": ["DIAG_CODE", "SUMMARY_CODE", "SCNAME_COMMENT", "ENNAME_COMMENT", "JPNAME_COMMENT"],
    "summary_tbl": ["SUMMARY_CODE", "TCNAME_SUMMARY", "SCNAME_SUMMARY", "ENNAME_SUMMARY",
                    "JPNAME_SUMMARY"],
}


def write_dims(out_dir, fixtures):
    """Write the catalog plus the fixture dims as parquet; return every
    summary text the LLM may be asked to rewrite."""
    os.makedirs(out_dir, exist_ok=True)
    tables = catalog()
    for name in tables:
        tables[name] += _read_jsonl(os.path.join(fixtures, "rich_dims_%s.jsonl" % name))
        _write_parquet(tables[name], DIM_COLUMNS[name],
                       os.path.join(out_dir, "%s.parquet" % name), int_cols=("GROUPNO",))
    return sorted({r[c] for r in tables["summary_tbl"] for c in DIM_COLUMNS["summary_tbl"][1:]
                   if r[c]}, key=len, reverse=True)


def _comment(rng):
    r = rng.random()
    if r < 0.07:
        return ""
    if r < 0.12:
        return " " * rng.randrange(1, 4)
    if r < 0.15:
        return None
    t = COMMENTS[rng.randrange(len(COMMENTS))]
    o = ORGANS[rng.randrange(len(ORGANS))][rng.randrange(4)]
    return t.format(n=rng.randrange(1, 300), m=rng.randrange(1, 300), o=o)


def _nonblank(c):
    return c is not None and c.strip(" ") != ""


# Records with an unknown LANG_NO, or with only blank comments (no report),
# sit at fixed positions rather than random ones: a serve run measures only a
# handful of requests, and these records are much cheaper to serve.
UNKNOWN_LANG_EVERY = 33
BLANK_EVERY = 50


def record(rng, i, rid):
    """Record number `i` and whether the engine must report it."""
    lang = str(rng.randrange(1, 5))
    if i % UNKNOWN_LANG_EVERY == UNKNOWN_LANG_EVERY - 1:
        lang = rng.choice(["0", "5", "9"])
    blank_record = i % BLANK_EVERY == BLANK_EVERY - 1
    items = []
    for _ in range(rng.randrange(3, 9)):
        findings = []
        for _ in range(rng.randrange(1, 4)):
            findings.append({"DIAG_CODE": diag_code(_pick(rng, DIAG_CUM)),
                             "COMMENT": "" if blank_record else _comment(rng),
                             "SUMMARY_CODE": "x"})
            if rng.random() < 0.05:
                findings.append(dict(findings[-1]))
        items.append({"ITEM_CODE": item_code(_pick(rng, ITEM_CUM)), "FINDINGS": findings})
    rec = {"RECORD_ID": rid, "LANG_NO": lang, "ORG_ID": ORGS[rng.randrange(len(ORGS))],
           "ITEMS": items}
    reported = any(_nonblank(f["COMMENT"]) for i in items for f in i["FINDINGS"])
    return rec, reported


def serve_bodies(seed, n):
    """`n` single-record request bodies: (body, must_report, is_known_lang)."""
    rng = random.Random(seed)
    out = []
    for i in range(n):
        rec, reported = record(rng, i, "R%d-%05d" % (seed, i))
        out.append((json.dumps([rec], ensure_ascii=False), reported, rec["LANG_NO"] in "1234"))
    return out


def batch_input(seed, n_records, per_body, path, sample_path, n_sample, golden_body,
                golden_reports):
    """JSONL of bodies (`per_body` records each) followed by the golden
    request body, which yields `golden_reports` reports; returns the
    expected report count. Writes `n_sample` reported records taken at
    fixed positions to `sample_path`, as one request body."""
    rng = random.Random(seed)
    expected = golden_reports
    step = max(1, n_records // n_sample)
    sample = []
    with open(path, "w", encoding="utf-8") as f:
        body = []
        for i in range(n_records):
            rec, reported = record(rng, i, "B%d-%06d" % (seed, i))
            expected += reported
            body.append(rec)
            if i % step == step // 2 and reported:
                sample.append(rec)
            if len(body) == per_body:
                f.write(json.dumps(body, ensure_ascii=False) + "\n")
                body = []
        if body:
            f.write(json.dumps(body, ensure_ascii=False) + "\n")
        f.write(json.dumps(json.loads(golden_body), ensure_ascii=False) + "\n")
    with open(sample_path, "w", encoding="utf-8") as s:
        s.write(json.dumps(sample, ensure_ascii=False))
    return expected


STOPWORDS = ["the", "a", "of", "and", "to", "in", "is"]


def documents(seed, n_docs, path):
    """Curation corpus as parquet; returns the doc ids the curation pass
    must output (dedup keeps each duplicate group's smallest id, then the
    quality filter drops documents outside 15-90 words)."""
    rng = random.Random(seed)
    letters = "abcdefghijklmnopqrstuvwxyz"
    vocab = ["".join(rng.choice(letters) for _ in range(rng.randrange(3, 10)))
             for _ in range(20000)]
    ids, texts, langs, sources = [], [], [], []
    first_of = {}
    for i in range(n_docs):
        doc_id = 1000 + 7 * i
        r = rng.random()
        if i > 10 and r < 0.12:
            j = rng.randrange(len(texts))  # planted duplicate: same tokens
            toks = texts[j].split()
            text = " ".join(t + ("  " if rng.random() < 0.2 else "") for t in toks).rstrip()
            lang = langs[j]
            key = " ".join(toks)
        else:
            n = rng.randrange(4, 12) if r < 0.2 else rng.randrange(18, 80)
            toks = []
            for _ in range(n):
                toks.append(rng.choice(STOPWORDS) if rng.random() < 0.25 else rng.choice(vocab))
            text = " ".join(toks)
            lang = "en" if rng.random() < 0.85 else "fr"
            key = text
        first_of.setdefault(key, doc_id)
        ids.append(doc_id)
        texts.append(text)
        langs.append(lang)
        sources.append("src%d" % (i % 5))
    pq.write_table(pa.table({
        "doc_id": pa.array(ids, pa.int64()), "text": pa.array(texts, pa.string()),
        "lang": pa.array(langs, pa.string()), "source": pa.array(sources, pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64())}), path)
    expected = set()
    for doc_id, text, lang in zip(ids, texts, langs):
        words = [w for w in text.split(" ") if w != ""]
        key = " ".join(words)
        if first_of[key] != doc_id:
            continue
        n = len(words)
        mean = sum(len(w) for w in words) / n
        stops = sum(w in STOPWORDS for w in words)
        if 15 <= n <= 90 and 2.0 <= mean <= 12.0 and (lang != "en" or stops >= 2):
            expected.add(doc_id)
    return expected
