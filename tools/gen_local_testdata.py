"""Generate a LOCAL REPLICA of the driver's testdata tables.

The driver's `/root/testdata/sf*` directories are read-only and can be
removed/regenerated between rounds (round 6 lost them mid-session).
This script rebuilds schema-faithful stand-ins under `.localdata/` so
the correctness gate, pytest, and bench keep working: the gate compares
Spark vs DuckDB **over the same parquet files**, so parity checks are
equally meaningful on replica data — only absolute bench numbers and
data-specific row counts differ from the driver's artifacts.

Schema contract (recovered sources of truth):
  - lineitem / part / supplier: DuckDB DESCRIBE of the driver files
    (round-6 session transcript) — exact column names and types.
  - events: FIXTURES.md §3 + workload/__init__.py `load()` docstring
    (ts written as parquet INT64 TIMESTAMP(NANOS), the vintage the
    driver's tables no longer ship (they hold TIMESTAMP(MICROS)); kept
    so the replica and perfbench's tables exercise the normalizer).
  - documents / embeddings: FIXTURES.md §3 (doc_id,text,lang,source,
    n_chars; vec_id,embedding array<float>,label int); embedding dim 64
    per breadth_queries._PQ_M × _PQ_SUBDIM; vec_id starts at 0.
  - customer / orders / nation / region: TPC-H-standard columns, names
    confirmed by the 175 registered queries (c_custkey c_name c_acctbal
    c_mktsegment c_nationkey / o_orderkey o_custkey o_orderstatus
    o_totalprice o_orderdate o_orderpriority / n_nationkey n_name
    n_regionkey / r_regionkey r_name).
  - Value domains the queries rely on: l_quantity integer-valued
    1..50 doubles; l_shipdate 1995..2001; o_orderdate covering the
    1995-01-01..1996-01-01 and 1998-09-01 predicates; o_orderstatus
    'O'/'F'; p_brand 'Brand#<n>'; event_type view/click/purchase/
    signup/error; documents.source 'src0'.. (training_queries
    _BENCH_SOURCE='src0'); props JSON with '$.k' BIGINT.

Row counts scale like the driver's (TESTDATA.md: lineitem ≈ 6M × sf;
observed at sf0.01: customer 2000, supplier 100, orders 15000,
lineitem 60000, events 10000, documents 500).

Usage:
    python tools/gen_local_testdata.py [--root .localdata] [--sf 0.001 0.01 0.1]
"""

from __future__ import annotations

import argparse
import json
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REPO = Path(__file__).resolve().parent.parent

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
NATIONS = [
    "ALGERIA", "ARGENTINA", "BRAZIL", "CANADA", "EGYPT", "ETHIOPIA",
    "FRANCE", "GERMANY", "INDIA", "INDONESIA", "IRAN", "IRAQ", "JAPAN",
    "JORDAN", "KENYA", "MOROCCO", "MOZAMBIQUE", "PERU", "CHINA",
    "ROMANIA", "SAUDI ARABIA", "VIETNAM", "RUSSIA", "UNITED KINGDOM",
    "UNITED STATES",
]
NATION_REGION = [0, 1, 1, 1, 4, 0, 3, 3, 2, 2, 4, 4, 2, 4, 0, 0, 0, 1,
                 2, 3, 4, 2, 3, 3, 1]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "MACHINERY", "HOUSEHOLD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
P_TYPES = [
    f"{a} {b} {c}"
    for a in ("STANDARD", "SMALL", "MEDIUM", "LARGE", "ECONOMY", "PROMO")
    for b in ("ANODIZED", "BURNISHED", "PLATED", "POLISHED", "BRUSHED")
    for c in ("TIN", "NICKEL", "BRASS", "STEEL", "COPPER")
]
P_WORDS = ("almond antique azure beige bisque black blue blush brown "
           "burlywood chartreuse chiffon chocolate coral cornflower cream "
           "cyan dark deep dim dodger drab firebrick floral forest frosted "
           "gainsboro ghost goldenrod green grey honeydew hot indian ivory "
           "khaki lace lavender lawn lemon light lime linen magenta maroon "
           "medium metallic midnight mint misty moccasin navajo navy olive "
           "orange orchid pale papaya peach peru pink plum powder puff "
           "purple red rose rosy royal saddle salmon sandy seashell sienna "
           "sky slate smoke snow spring steel tan thistle tomato turquoise "
           "violet wheat white yellow").split()

LANG_VOCAB = {
    "en": ("the and of to in is was for on that with as it at by this had "
           "not are but from or have an they which one you were all her "
           "she there would their we him been has when who will no more if "
           "out so said what up its about than into them can only other "
           "time new some could these two may first then do any like my "
           "now over such our man me even most made after also").split(),
    "da": ("og i det at en den til er som på de med han af for ikke der "
           "var mig sig men et har om vi min havde ham hun nu over da fra "
           "du ud sin dem os op man hans hvor eller hvad skal selv her "
           "alle vil blev kunne ind når være dog noget ville jo deres "
           "efter ned skulle denne end dette mit også under have dig anden "
           "hende mine alt meget sit sine vor mod disse hvis din nogle").split(),
    "de": ("der die und in den von zu das mit sich des auf für ist im dem "
           "nicht ein eine als auch es an werden aus er hat dass sie nach "
           "wird bei einer um am sind noch wie einem über einen so zum war "
           "haben nur oder aber vor zur bis mehr durch man sein wurde sei "
           "kann wenn ihre dann unter wir soll ich eines jahr zwei diese "
           "dieser wieder keine ihrer seiner alle würde").split(),
    "fr": ("le de un être et à il avoir ne je son que se qui ce dans en "
           "du elle au pour pas que vous par sur faire plus dire me on "
           "mon lui nous comme mais pouvoir avec tout y aller voir bien "
           "où sans tu ou leur homme si deux mari moi vouloir te femme "
           "venir quand grand celui même notre devoir là jour prendre "
           "fois rien votre dont petit encore trois").split(),
}
LANG_WEIGHTS = {"en": 0.60, "da": 0.15, "de": 0.15, "fr": 0.10}
SOURCES = ["src0", "src1", "src2", "src3", "src4"]

# Unicode stress rows injected verbatim (~one per 200 docs): Turkish
# dotted-I and Greek sigma exercise the full-case-mapping divergence
# (Java vs utf8proc lower), CJK has no spaces, emoji/ZWJ and RTL stress
# tokenizer byte/codepoint handling.
UNICODE_STRESS = [
    "İstanbul DİYARBAKIR ışık İİİ",
    "ΣΟΦΟΣ σοφος greek SIGMA Σ test",
    "日本語のテキストには空白がない文字列です",
    "emoji test \U0001F600\U0001F600 \U0001F44D\U0001F3FD family done",
    "café vs café normalization",
    "mixed العربية and עברית rtl text",
]

US = 1_000_000  # microseconds per second
DAY_US = 86_400 * US


def _ts_us(iso: str) -> int:
    import datetime as dt
    return int(dt.datetime.fromisoformat(iso).timestamp() * US)


def write(table: pa.Table, path: Path) -> None:
    pq.write_table(table, path, compression="snappy")


def gen_dims(out: Path) -> None:
    write(pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": pa.array(REGIONS),
    }), out / "region.parquet")
    write(pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": pa.array(NATIONS),
        "n_regionkey": pa.array(NATION_REGION, pa.int32()),
    }), out / "nation.parquet")


def gen_customer(rng, n, out):
    write(pa.table({
        "c_custkey": pa.array(np.arange(1, n + 1), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(1, n + 1)],
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n), 2),
        "c_mktsegment": [SEGMENTS[i] for i in rng.integers(0, 5, n)],
        "c_nationkey": pa.array(rng.integers(0, 25, n), pa.int32()),
    }), out / "customer.parquet")


def gen_supplier(rng, n, out):
    write(pa.table({
        "s_suppkey": pa.array(np.arange(1, n + 1), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(1, n + 1)],
        "s_nationkey": pa.array(rng.integers(0, 25, n), pa.int32()),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n), 2),
    }), out / "supplier.parquet")


def gen_part(rng, n, out):
    names = [" ".join(P_WORDS[j] for j in rng.integers(0, len(P_WORDS), 5))
             for _ in range(n)]
    write(pa.table({
        "p_partkey": pa.array(np.arange(1, n + 1), pa.int64()),
        "p_name": names,
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n)],
        "p_type": [P_TYPES[i] for i in rng.integers(0, len(P_TYPES), n)],
        "p_size": pa.array(rng.integers(1, 51, n), pa.int32()),
        "p_retailprice": np.round(rng.uniform(900.0, 2100.0, n), 2),
    }), out / "part.parquet")


def gen_orders_lineitem(rng, n_orders, n_cust, n_part, n_supp, out):
    okey = np.arange(1, n_orders + 1)
    odate = _ts_us("1995-01-01") + rng.integers(
        0, _ts_us("2001-08-01") - _ts_us("1995-01-01"), n_orders)
    odate = (odate // DAY_US) * DAY_US  # midnight-aligned, like a DATE
    status = np.array(["O", "F", "P"])[
        rng.choice(3, n_orders, p=[0.48, 0.48, 0.04])]
    write(pa.table({
        "o_orderkey": pa.array(okey, pa.int64()),
        "o_custkey": pa.array(rng.integers(1, n_cust + 1, n_orders), pa.int64()),
        "o_orderstatus": status.tolist(),
        "o_totalprice": np.round(rng.uniform(900.0, 450000.0, n_orders), 2),
        "o_orderdate": pa.array(odate, pa.timestamp("us")),
        "o_orderpriority": [PRIORITIES[i] for i in rng.integers(0, 5, n_orders)],
    }), out / "orders.parquet")

    # ~4 lines per order (1..7), trimmed to exactly 4*n_orders rows.
    lines_per = rng.integers(1, 8, n_orders)
    l_okey = np.repeat(okey, lines_per)
    n_li = 4 * n_orders
    if len(l_okey) >= n_li:
        l_okey = l_okey[:n_li]
    n_li = len(l_okey)
    # linenumber = position within its order
    ln = np.concatenate([np.arange(1, c + 1) for c in lines_per])[:n_li]
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    price = np.round(qty * rng.uniform(900.0, 1100.0, n_li), 2)
    ship = np.repeat(odate, lines_per)[:n_li] + \
        rng.integers(1, 122, n_li) * DAY_US
    write(pa.table({
        "l_orderkey": pa.array(l_okey, pa.int64()),
        "l_partkey": pa.array(rng.integers(1, n_part + 1, n_li), pa.int64()),
        "l_suppkey": pa.array(rng.integers(1, n_supp + 1, n_li), pa.int64()),
        "l_linenumber": pa.array(ln, pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": price,
        "l_discount": np.round(rng.integers(0, 11, n_li) / 100.0, 2),
        "l_tax": np.round(rng.integers(0, 9, n_li) / 100.0, 2),
        "l_returnflag": np.array(["R", "A", "N"])[
            rng.choice(3, n_li, p=[0.25, 0.25, 0.5])].tolist(),
        "l_linestatus": np.array(["O", "F"])[rng.integers(0, 2, n_li)].tolist(),
        "l_shipdate": pa.array(ship, pa.timestamp("us")),
    }), out / "lineitem.parquet")


def gen_events(rng, n, out):
    n_users = max(3, int(round(n * 0.015)))
    ts_us = _ts_us("2024-01-01") + np.sort(rng.integers(
        0, _ts_us("2024-01-31") - _ts_us("2024-01-01"), n))
    types = np.array(["view", "click", "purchase", "signup", "error"])[
        rng.choice(5, n, p=[0.50, 0.25, 0.13, 0.07, 0.05])]
    k = rng.integers(0, 1000, n)
    pr = rng.random(n)
    # 3% '{}' (missing key), 1% explicit null — both must extract as
    # NULL in each engine
    props = ["{}" if r < 0.03 else '{"k": null}' if r < 0.04
             else json.dumps({"k": int(v)}) for r, v in zip(pr, k)]
    # pinned NULL rows: value NULL on rows 5-6, props NULL on rows 7-8
    # (nullable schema; exercises NULL-skipping aggregation paths)
    value = np.where(rng.random(n) < 0.02,
                     np.round(rng.uniform(-25.0, 0.0, n), 3),
                     np.round(rng.uniform(250.0, 320.0, n), 3)).tolist()
    if n > 8:
        value[5] = value[6] = None
        props[7] = props[8] = None
    write(pa.table({
        "event_id": pa.array(np.arange(1, n + 1), pa.int64()),
        # INT64 TIMESTAMP(NANOS) vintage — exercises the nanosAsLong
        # normalizer in workload.load()
        "ts": pa.array(ts_us * 1000, pa.timestamp("ns")),
        "user_id": pa.array(rng.integers(1, n_users + 1, n), pa.int64()),
        "event_type": types.tolist(),
        # ~2% negative values stress sign conventions in rounding /
        # integer division / banding on both engines
        "value": pa.array(value, pa.float64()),
        "props": props,
    }), out / "events.parquet")


def _sentence(rng, vocab, n_words):
    return " ".join(vocab[i] for i in rng.integers(0, len(vocab), n_words))


def gen_documents(rng, n, out):
    langs = list(LANG_WEIGHTS)
    probs = np.array([LANG_WEIGHTS[l] for l in langs])
    texts, doc_lang, doc_src = [], [], []
    for i in range(n):
        r = rng.random()
        if 2 < i <= 20 and i - 3 < len(UNICODE_STRESS):
            # pin the unicode stress rows near the front of every size
            texts.append(UNICODE_STRESS[i - 3])
            doc_lang.append("en")
            doc_src.append(SOURCES[int(rng.integers(0, len(SOURCES)))])
            continue
        if i == len(UNICODE_STRESS) + 3:
            # one pinned NULL-text row (schema is nullable; exercises
            # NULL propagation through every text path)
            texts.append(None)
            doc_lang.append("en")
            doc_src.append(SOURCES[int(rng.integers(0, len(SOURCES)))])
            continue
        if i > 20 and r < 0.08:          # exact duplicate of an earlier doc
            j = int(rng.integers(0, i))
            texts.append(texts[j])
            doc_lang.append(doc_lang[j])
            doc_src.append(SOURCES[int(rng.integers(0, len(SOURCES)))])
            continue
        lang = langs[int(rng.choice(len(langs), p=probs))]
        vocab = LANG_VOCAB[lang]
        if i > 20 and 0.18 <= r < 0.20:
            # degenerate corpus rows real crawls contain
            dr = rng.random()
            if dr < 0.2:
                texts.append("")                       # empty doc
            elif dr < 0.4:
                texts.append("  \t \n ")               # whitespace-only
            else:                                      # one word repeated
                w = vocab[int(rng.integers(0, len(vocab)))]
                texts.append(" ".join([w] * int(rng.integers(10, 60))))
            doc_lang.append(lang)
            doc_src.append(SOURCES[int(rng.integers(0, len(SOURCES)))])
            continue
        if i > 20 and r < 0.18 and (texts[(j := int(rng.integers(0, i)))] or "").split():
            # near-duplicate: perturb a few words (skip empty bases —
            # a degenerate doc has no words to perturb)
            words = texts[j].split()
            base_vocab = LANG_VOCAB[doc_lang[j]]
            for _ in range(max(1, len(words) // 20)):
                words[int(rng.integers(0, len(words)))] = \
                    base_vocab[int(rng.integers(0, len(base_vocab)))]
            texts.append(" ".join(words))
            doc_lang.append(doc_lang[j])
        else:
            # 6..120 words: the short tail exercises the n_chars<60 and
            # <100 quality/cascade branches with non-empty slices
            body = _sentence(rng, vocab, int(rng.integers(6, 120)))
            if rng.random() < 0.25:      # sentence-case / shouting-case
                words = body.split()
                words[0] = words[0].capitalize()
                if len(words) > 3 and rng.random() < 0.3:
                    words[2] = words[2].upper()
                body = " ".join(words)
            if rng.random() < 0.04:      # embedded tab/newline
                body = body.replace(" ", "\t", 1).replace(" ", "\n", 1)
            if rng.random() < 0.06:      # PII-bearing docs
                body += (f" contact user{i}@example.com or call "
                         f"+45 {int(rng.integers(10_000_000, 99_999_999))}")
            if rng.random() < 0.05:      # URL-bearing docs
                body += f" see https://example.org/item?id={i}&ref=feed"
            texts.append(body)
            doc_lang.append(lang)
        doc_src.append(SOURCES[int(rng.integers(0, len(SOURCES)))])
    write(pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": texts,
        "lang": doc_lang,
        "source": doc_src,
        "n_chars": pa.array([len(t) if t is not None else None for t in texts], pa.int64()),
    }), out / "documents.parquet")


def gen_embeddings(rng, n, out, dim=64, n_labels=10):
    labels = rng.integers(0, n_labels, n)
    cents = rng.normal(0, 1, (n_labels, dim))
    vecs = cents[labels] + rng.normal(0, 0.35, (n, dim))
    # exact dups (~3%) and near dups (~5%) of earlier vectors
    for i in range(20, n):
        r = rng.random()
        if r < 0.03:
            j = int(rng.integers(0, i))
            vecs[i] = vecs[j]
            labels[i] = labels[j]
        elif r < 0.08:
            j = int(rng.integers(0, i))
            vecs[i] = vecs[j] + rng.normal(0, 0.01, dim)
            labels[i] = labels[j]
    flat = vecs.astype(np.float32).ravel()
    emb = pa.FixedSizeListArray.from_arrays(pa.array(flat, pa.float32()), dim)
    emb = emb.cast(pa.list_(pa.float32()))
    write(pa.table({
        "vec_id": pa.array(np.arange(n), pa.int64()),
        "embedding": emb,
        "label": pa.array(labels, pa.int32()),
    }), out / "embeddings.parquet")


def gen_sf(root: Path, sf: float, seed: int = 42) -> Path:
    # Build into a PROCESS-UNIQUE temp dir and rename at the end: a
    # crash mid-write must never leave a partial directory that passes
    # the resolver's populated-sentinel check (observed live: a partial
    # sf0.1 with lineitem but no documents), and two concurrent
    # builders (pytest + bench mid-round) must never delete each
    # other's work — mkdtemp keeps them disjoint, and a concurrent
    # winner of the final rename counts as success (the data is
    # deterministic, seed 42, so any winner is byte-equivalent).
    import shutil
    import tempfile

    final = root / f"sf{sf:g}"
    root.mkdir(parents=True, exist_ok=True)
    out = Path(tempfile.mkdtemp(prefix=f".sf{sf:g}.building.", dir=root))
    try:
        rng = np.random.default_rng(seed)
        n_orders = int(1_500_000 * sf)
        gen_dims(out)
        gen_customer(rng, int(200_000 * sf), out)
        gen_supplier(rng, max(10, int(10_000 * sf)), out)
        gen_part(rng, int(200_000 * sf), out)
        gen_orders_lineitem(rng, n_orders, int(200_000 * sf),
                            int(200_000 * sf), max(10, int(10_000 * sf)), out)
        gen_events(rng, int(1_000_000 * sf), out)
        gen_documents(rng, int(50_000 * sf), out)
        gen_embeddings(rng, int(100_000 * sf), out)
        if (final / "lineitem.parquet").exists():
            # A concurrent builder finished first; keep its output.
            shutil.rmtree(out)
            return final
        if final.exists():
            shutil.rmtree(final)
        try:
            out.rename(final)
        except OSError:
            if (final / "lineitem.parquet").exists():
                shutil.rmtree(out, ignore_errors=True)
                return final
            raise
    except BaseException:
        shutil.rmtree(out, ignore_errors=True)
        raise
    return final


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--root", default=str(REPO / ".localdata"))
    ap.add_argument("--sf", nargs="+", type=float, default=[0.001, 0.01, 0.1])
    # Non-default seeds produce VARIANT replicas for divergence hunting
    # (run the oracle gate against a fresh data shape); the resolver's
    # on-demand generation always uses the default seed 42.
    ap.add_argument("--seed", type=int, default=42)
    args = ap.parse_args()
    for sf in args.sf:
        out = gen_sf(Path(args.root), sf, seed=args.seed)
        sizes = {p.name: p.stat().st_size for p in sorted(out.glob("*.parquet"))}
        print(out, json.dumps(sizes))


if __name__ == "__main__":
    main()
