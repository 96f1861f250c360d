"""Seeded, single-process input generators for the benchmark.

Everything here is a pure function of ``seed`` and the size arguments:
the same seed gives byte-identical parquet files, written with pyarrow
(no Spark), so the program under test only ever sees the generated files.

Two families:

- ``make_docs`` / ``write_docs`` — a web-text corpus in the documents
  schema ``(doc_id, text, lang, source, n_chars)`` for the ``build``
  workload. It plants near-copies (a doc with ~2% of its
  words replaced), one boilerplate flood cluster (many docs that differ
  in one token, so they share most LSH buckets) and English PII for the
  scrub kernel, and is split over several parquet files.
- ``write_contract_tables`` — small tables in the schemas the contract
  queries read (documents, embeddings, events).
"""

from __future__ import annotations

import json
import random
from pathlib import Path

import pyarrow as pa
import pyarrow.parquet as pq

DOC_SCHEMA = pa.schema([
    ("doc_id", pa.int64()), ("text", pa.string()), ("lang", pa.string()),
    ("source", pa.string()), ("n_chars", pa.int64()),
])
EVAL_SCHEMA = pa.schema([("doc_id", pa.int64()), ("text", pa.string())])

_EN_WORDS = (
    "the of and to in a is that for it as was with be by on not he this "
    "are or his from at which but have an they you were her she there one "
    "all we their can has more will would about if no our when what so "
    "people market bread cheese fruit farmers science technology internet "
    "world children school teachers history country weather autumn forest "
    "music stories culture government transport capital city families "
    "holiday beach village morning river garden library museum company "
    "report research student doctor hospital kitchen window station train "
    "weekend summer winter spring mountain island harbor bridge street "
    "coffee dinner recipe season league player coach match ticket concert "
    "council budget project network service customer product review price "
    "quickly slowly often always never today tomorrow yesterday together "
    "walk read write learn build open close bring carry share find keep "
    "new old small large quiet busy warm cold bright early late local"
).split()
_OTHER_WORDS = {
    "de": ("der die das und ist nicht mit auf für von den zu im ein eine "
           "wir sie Markt Brot Käse Schule Lehrer Geschichte Wetter Herbst "
           "Wälder Regierung Verkehr Hauptstadt Familien Urlaub Meer Sand "
           "jeden Tag gehen kaufen lernen lesen schreiben schnell still").split(),
    "es": ("el la los las y es no con en un una para por de del que se "
           "mercado pan queso escuela maestros historia tiempo otoño "
           "bosques gobierno transporte capital familias vacaciones mar "
           "arena cada día comprar aprender leer escribir rápido").split(),
    "fr": ("le la les et est pas avec sur pour de du des un une que se "
           "marché pain fromage école professeurs histoire temps automne "
           "forêts gouvernement transports capitale familles vacances mer "
           "sable chaque jour acheter apprendre lire écrire rapide").split(),
}
_ZH_CHARS = "敏捷的棕色狐狸跳过懒惰狗清晨太阳在安静村庄上升起每天人们走到市场去买面包奶酪和农民新鲜水果"
_NAMES = ("John Alice Carol David Emma Grace Henry Irene Liam Mary Noah "
          "Olivia Peter Rachel Sofia Victor Wendy Yusuf").split()
_SURNAMES = ("Smith Brown Davis Johnson Williams Jones Miller Wilson Moore "
             "Taylor Anderson Thomas Garcia Martinez Robinson Clark").split()
_CITIES = "Portland Seattle Austin Denver Boston Chicago London Paris Berlin".split()
_FLOOD = (
    "We use cookies to improve your experience on this site. By continuing "
    "to browse you agree to our privacy policy and terms of service. "
    "Subscribe to our newsletter for weekly updates and special offers. "
    "Copyright all rights reserved. Contact the support team for questions "
    "about your account or your order."
)
# lang mix of generated originals; the non-English share is dropped by
# the quality stage's allowed-language gate; en comes first and takes the
# rounding remainder
_LANGS = (("en", 0.70), ("de", 0.08), ("es", 0.08), ("fr", 0.08),
          ("zh", 0.06))
N_SOURCES = 20
EVAL_ID_BASE = 10**9


def _pii(rng: random.Random) -> str:
    first, last = rng.choice(_NAMES), rng.choice(_SURNAMES)
    kind = rng.randrange(3)
    if kind == 0:
        return f"contact {first.lower()}.{last.lower()}@example.com today"
    if kind == 1:
        return f"call {first} {last} at 555-{rng.randrange(100, 999)}-{rng.randrange(1000, 9999)}"
    return f"{first} {last} moved to {rng.choice(_CITIES)}"


def _sentence(rng: random.Random, words: list[str]) -> str:
    s = " ".join(rng.choice(words) for _ in range(rng.randint(7, 15)))
    return s[0].upper() + s[1:] + "."


def _text(rng: random.Random, lang: str) -> str:
    if lang == "zh":
        return "".join(rng.choice(_ZH_CHARS) for _ in range(rng.randint(60, 200)))
    words = _EN_WORDS if lang == "en" else _OTHER_WORDS[lang]
    lines = []
    for _ in range(rng.randint(2, 5)):
        sents = [_sentence(rng, words) for _ in range(rng.randint(1, 3))]
        if lang == "en" and rng.random() < 0.3:
            sents.insert(rng.randrange(len(sents) + 1), _pii(rng).capitalize() + ".")
        lines.append(" ".join(sents))
    return "\n".join(lines)


def near_copy(rng: random.Random, text: str, frac: float = 0.02) -> str:
    """``text`` with ``frac`` of its words (at least one) replaced."""
    toks = text.split(" ")
    for i in rng.sample(range(len(toks)), max(1, round(frac * len(toks)))):
        toks[i] = rng.choice([w for w in _EN_WORDS if w != toks[i]])
    return " ".join(toks)


def _row(doc_id: int, text: str, lang: str, rng: random.Random) -> dict:
    return {"doc_id": doc_id, "text": text, "lang": lang,
            "source": f"src{rng.randrange(N_SOURCES)}", "n_chars": len(text)}


def make_docs(seed: int, n: int, near_frac: float = 0.10,
              flood_frac: float = 0.015,
              contam_frac: float = 0.02,
              ) -> tuple[list[dict], list[dict], set[int]]:
    """``n`` corpus rows with doc ids ``0 .. n-1`` (sorted by id, the
    planted ones at shuffled ids) and an evaluation set to
    decontaminate against. Every count is fixed by ``n`` and the
    fractions, so seeds differ in content, not in amount of work:

    - originals in the exact ``_LANGS`` mix;
    - ``contam_frac`` of the rows: English originals that share a
      12-word span with one evaluation item each;
    - ``near_frac``: 2%-edited near-copies of other non-Chinese
      originals;
    - ``flood_frac``: one-token variants of a single boilerplate page.

    The evaluation set holds one item per contaminated row plus as
    many items that share nothing with the corpus. Returns the corpus
    rows, the evaluation rows and the contaminated rows' ids."""
    rng = random.Random(seed)
    n_near = round(near_frac * n)
    n_flood = round(flood_frac * n)
    n_contam = round(contam_frac * n)
    n_orig = n - n_near - n_flood
    langs = [lang for lang, p in _LANGS[1:] for _ in range(round(p * n_orig))]
    langs += ["en"] * (n_orig - len(langs))
    rng.shuffle(langs)
    ids = list(range(n))
    rng.shuffle(ids)
    rows = [_row(ids[i], _text(rng, lang), lang, rng)
            for i, lang in enumerate(langs)]
    contaminated = [r for r in rows if r["lang"] == "en"][:n_contam]
    contam_ids = {r["doc_id"] for r in contaminated}
    sources = [r for r in rows
               if r["lang"] != "zh" and r["doc_id"] not in contam_ids]
    for i in range(n_orig, n_orig + n_near):
        src = sources[rng.randrange(len(sources))]
        rows.append(_row(ids[i], near_copy(rng, src["text"]), src["lang"], rng))
    for i in range(n_orig + n_near, n):
        rows.append(_row(ids[i], f"{_FLOOD} Reference {rng.randrange(10**6)}.",
                         "en", rng))
    rows.sort(key=lambda r: r["doc_id"])

    evals = []
    for r in contaminated:
        words = r["text"].split()
        at = rng.randrange(len(words) - 11)
        span = " ".join(words[at:at + 12])
        evals.append(f"{_sentence(rng, _EN_WORDS)} {span} "
                     f"{_sentence(rng, _EN_WORDS)}")
    evals += [_text(rng, "en") for _ in contaminated]
    eval_rows = [{"doc_id": EVAL_ID_BASE + i, "text": t}
                 for i, t in enumerate(evals)]
    return rows, eval_rows, contam_ids


def write_docs(rows: list[dict], out_dir: Path, n_files: int = 4,
               schema: pa.Schema = DOC_SCHEMA) -> int:
    """Split ``rows`` round-robin over ``n_files`` parquet files; returns
    the bytes written."""
    out_dir.mkdir(parents=True, exist_ok=True)
    total = 0
    for f in range(n_files):
        part = rows[f::n_files]
        tbl = pa.Table.from_pylist(part, schema=schema)
        path = out_dir / f"part-{f:05d}.parquet"
        pq.write_table(tbl, path, compression="snappy")
        total += path.stat().st_size
    return total


# ---------------------------------------------------------------------------
# contract tables: the schemas the contract queries read, sf0.001-sized
# ---------------------------------------------------------------------------

_CONTRACT_VOCAB = (
    "a the data spark query table row column key value scan filter join "
    "group agg sort merge hash window stream batch fast slow big small "
    "order customer line part vector"
).split()


CONTRACT_DOCS = 500


def write_contract_tables(out_dir: Path, seed: int) -> None:
    """documents (CONTRACT_DOCS, every tenth a one-word edit of an earlier
    doc), embeddings (500 x 64) and events (1000) with the column names
    and types the contract queries read."""
    rng = random.Random(seed)
    out_dir.mkdir(parents=True, exist_ok=True)
    tables: dict[str, pa.Table] = {}

    docs = []
    for i in range(CONTRACT_DOCS):
        if i % 10 == 9:  # a one-word edit of an earlier doc
            words = docs[rng.randrange(i)]["text"].split(" ")
            words[rng.randrange(len(words))] = rng.choice(_CONTRACT_VOCAB)
        else:
            words = [rng.choice(_CONTRACT_VOCAB) for _ in range(rng.randint(8, 90))]
        text = " ".join(words)
        lang = rng.choices([l for l, _ in _LANGS], [p for _, p in _LANGS])[0]
        docs.append({"doc_id": i, "text": text, "lang": lang,
                     "source": f"src{i % N_SOURCES}", "n_chars": len(text)})
    tables["documents"] = pa.Table.from_pylist(docs, schema=DOC_SCHEMA)

    centers = [[rng.gauss(0.0, 1.0) for _ in range(64)] for _ in range(10)]
    vec_ids, embs, labels = [], [], []
    for i in range(500):
        label = rng.randrange(10)
        v = [c + rng.gauss(0.0, 0.6) for c in centers[label]]
        norm = sum(x * x for x in v) ** 0.5
        vec_ids.append(i)
        embs.append([x / norm for x in v])
        labels.append(label)
    tables["embeddings"] = pa.table({
        "vec_id": pa.array(vec_ids, pa.int64()),
        "embedding": pa.array(embs, pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    })

    ts, t = [], 1_704_067_200_000_000  # 2024-01-01 in microseconds
    ev_types = ["signup", "click", "error", "purchase", "view"]
    for _ in range(1000):
        t += rng.randrange(1, 5_000_000_000)
        ts.append(t)
    tables["events"] = pa.table({
        "event_id": pa.array(range(1000), pa.int64()),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array([rng.randrange(15) for _ in range(1000)], pa.int64()),
        "event_type": pa.array([rng.choice(ev_types) for _ in range(1000)]),
        "value": pa.array([round(rng.uniform(0, 330), 2) for _ in range(1000)],
                          pa.float64()),
        "props": pa.array([json.dumps({"k": rng.randrange(100)})
                           for _ in range(1000)]),
    })

    for name, tbl in tables.items():
        pq.write_table(tbl, out_dir / f"{name}.parquet", compression="snappy")
