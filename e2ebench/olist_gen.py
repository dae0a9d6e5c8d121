"""Seeded, dirty Olist-shaped CSV generator for the warehouse workload.

Writes the nine Olist tables (column names as the public Kaggle
dataset ships them, including the ``lenght`` misspellings) at a
fraction of the real row counts, with the dirt the silver loads exist
to repair:

- decimal-comma money and measures (``"58,90"``);
- accented, upper-case and accent-stripped spellings of one city;
- ~3% undelivered orders (blank delivered date);
- duplicate ``review_id`` rows with later answer timestamps;
- quoted review comments with embedded newlines;
- out-of-range and non-numeric review scores;
- blank and space-padded ids, non-numeric item ids, unparseable dates.

:func:`expected_counts` then derives, in pandas and independently of
the engine, how many rows every bronze, silver and gold table must
hold.  The same seed always gives the same files and counts.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd

# Row counts of the public Olist dataset (Kaggle, 2018 release).
OLIST_ROWS = {
    "customers": 99_441,
    "sellers": 3_095,
    "category_translation": 71,
    "products": 32_951,
    "geolocation": 1_000_163,
    "orders": 99_441,
    "order_items": 112_650,
    "order_payments": 103_886,
    "order_reviews": 99_224,
}

# Same fold table as functions.cleansing.accent_fold, restated here so
# the expected counts do not come from the code under test.
_ACC = "áàâãäéèêëíìîïóòôõöúùûüçñ"
_ASCII = "aaaaaeeeeiiiiooooouuuucn"
_FOLD = str.maketrans(_ACC + _ACC.upper(), _ASCII + _ASCII.upper())

CITIES = [
    ("São Paulo", "SP"), ("Rio de Janeiro", "RJ"), ("Belo Horizonte", "MG"),
    ("Brasília", "DF"), ("Curitiba", "PR"), ("Porto Alegre", "RS"),
    ("Salvador", "BA"), ("Florianópolis", "SC"), ("Goiânia", "GO"),
    ("Niterói", "RJ"), ("Guarulhos", "SP"), ("São Luís", "MA"),
    ("Maceió", "AL"), ("Vitória", "ES"), ("Ribeirão Preto", "SP"),
    ("Jundiaí", "SP"),
]
STATUSES = ["delivered", "DELIVERED", "shipped", "canceled", "invoiced", "processing"]
PAYMENT_TYPES = ["credit_card", "CREDIT_CARD", "boleto", "voucher", "debit_card"]
WORDS = [
    "produto", "entrega", "rápida", "ótimo", "chegou", "antes", "prazo",
    "recomendo", "qualidade", "péssimo", "atrasado", "bom", "veio", "errado",
]
TS_FMT = "%Y-%m-%d %H:%M:%S"
DATE_LO = np.datetime64("2016-09-01T00:00:00")


def _ids(rng: np.random.Generator, n: int) -> np.ndarray:
    """32-hex-digit ids, unique within the call (Olist's id format)."""
    hi = rng.integers(0, 2**63, n, dtype=np.int64)
    lo = np.arange(n, dtype=np.int64)
    return np.array([f"{a:016x}{b:016x}" for a, b in zip(hi, lo)], dtype=object)


def _blank_some(rng: np.random.Generator, ids: np.ndarray, share: float) -> np.ndarray:
    """Blank (``""`` or ``"  "``) a share of ids and space-pad another."""
    out = ids.copy()
    u = rng.random(len(ids))
    out[u < share / 2] = ""
    out[(u >= share / 2) & (u < share)] = "  "
    pad = (u >= share) & (u < 2 * share)
    out[pad] = np.array([f" {x} " for x in out[pad]], dtype=object)
    return out


def _comma(rng: np.random.Generator, values: np.ndarray, share: float = 0.3) -> np.ndarray:
    """Format money as text, a share of it with a decimal comma."""
    txt = np.array([f"{v:.2f}" for v in values], dtype=object)
    c = rng.random(len(values)) < share
    txt[c] = np.array([t.replace(".", ",") for t in txt[c]], dtype=object)
    return txt


def _ts(t: np.ndarray) -> np.ndarray:
    return np.array([pd.Timestamp(x).strftime(TS_FMT) for x in t], dtype=object)


def _city_variant(rng: np.random.Generator, idx: np.ndarray) -> np.ndarray:
    """One spelling per row: as written, upper-case, lower-case or
    accent-stripped (the geolocation table's real mess)."""
    kind = rng.integers(0, 4, len(idx))
    out = []
    for i, k in zip(idx, kind):
        name = CITIES[i][0]
        out.append(
            name if k == 0 else name.upper() if k == 1
            else name.lower() if k == 2 else name.translate(_FOLD)
        )
    return np.array(out, dtype=object)


def generate(seed: int, scale: float) -> dict[str, pd.DataFrame]:
    """All nine tables as string frames (``""`` is an empty CSV cell)."""
    rng = np.random.default_rng(seed)
    n = {k: max(1, round(v * scale)) for k, v in OLIST_ROWS.items()}
    n["category_translation"] = OLIST_ROWS["category_translation"]
    zips = np.array([f"{z:05d}" for z in rng.integers(1000, 99999, 400)], dtype=object)
    t: dict[str, pd.DataFrame] = {}

    cat = [f"categoria_{i:02d}" for i in range(n["category_translation"])]
    t["category_translation"] = pd.DataFrame(
        {"product_category_name": cat,
         "product_category_name_english": [f"category_{i:02d}" for i in range(len(cat))]}
    )

    cust_id = _ids(rng, n["customers"])
    city = rng.integers(0, len(CITIES), n["customers"])
    t["customers"] = pd.DataFrame({
        "customer_id": _blank_some(rng, cust_id, 0.005),
        "customer_unique_id": _ids(rng, n["customers"]),
        "customer_zip_code_prefix": zips[rng.integers(0, len(zips), n["customers"])],
        "customer_city": _city_variant(rng, city),
        "customer_state": np.array(
            [CITIES[i][1].lower() if rng.random() < 0.1 else CITIES[i][1] for i in city],
            dtype=object),
    })

    seller_id = _ids(rng, n["sellers"])
    scity = rng.integers(0, len(CITIES), n["sellers"])
    t["sellers"] = pd.DataFrame({
        "seller_id": _blank_some(rng, seller_id, 0.005),
        "seller_zip_code_prefix": zips[rng.integers(0, len(zips), n["sellers"])],
        "seller_city": _city_variant(rng, scity),
        "seller_state": np.array([CITIES[i][1] for i in scity], dtype=object),
    })

    prod_id = _ids(rng, n["products"])
    pc = rng.integers(-1, len(cat), n["products"])
    photos = rng.integers(1, 10, n["products"]).astype(str).astype(object)
    photos[rng.random(n["products"]) < 0.01] = "abc"
    t["products"] = pd.DataFrame({
        "product_id": _blank_some(rng, prod_id, 0.005),
        "product_category_name": np.array([cat[i] if i >= 0 else "" for i in pc], dtype=object),
        "product_name_lenght": rng.integers(5, 76, n["products"]).astype(str),
        "product_description_lenght": rng.integers(4, 3993, n["products"]).astype(str),
        "product_photos_qty": photos,
        "product_weight_g": _comma(rng, rng.integers(50, 30000, n["products"]) / 10.0),
        "product_length_cm": _comma(rng, rng.integers(70, 1050, n["products"]) / 10.0),
        "product_height_cm": _comma(rng, rng.integers(20, 1050, n["products"]) / 10.0),
        "product_width_cm": _comma(rng, rng.integers(60, 1180, n["products"]) / 10.0),
    })

    gcity = rng.integers(0, len(CITIES), n["geolocation"])
    gstate = np.array([CITIES[i][1] for i in gcity], dtype=object)
    low = rng.random(n["geolocation"]) < 0.1
    gstate[low] = np.array([s.lower() for s in gstate[low]], dtype=object)
    t["geolocation"] = pd.DataFrame({
        "geolocation_zip_code_prefix": _blank_some(
            rng, zips[rng.integers(0, len(zips), n["geolocation"])], 0.002),
        "geolocation_lat": np.round(rng.uniform(-33.7, 5.2, n["geolocation"]), 6).astype(str),
        "geolocation_lng": np.round(rng.uniform(-73.9, -34.8, n["geolocation"]), 6).astype(str),
        "geolocation_city": _city_variant(rng, gcity),
        "geolocation_state": gstate,
    })

    no = n["orders"]
    order_id = _ids(rng, no)
    live_cust = cust_id[rng.integers(0, len(cust_id), no)]
    purchase = DATE_LO + rng.integers(0, 730 * 86400, no).astype("timedelta64[s]")
    approved = purchase + rng.integers(600, 2 * 86400, no).astype("timedelta64[s]")
    carrier = approved + rng.integers(86400, 5 * 86400, no).astype("timedelta64[s]")
    delivered = carrier + rng.integers(86400, 20 * 86400, no).astype("timedelta64[s]")
    estimated = (purchase + rng.integers(10, 40, no).astype("timedelta64[D]")).astype(
        "datetime64[D]").astype("datetime64[s]")
    deliv_txt = _ts(delivered)
    deliv_txt[rng.random(no) < 0.03] = ""
    appr_txt = _ts(approved)
    appr_txt[rng.random(no) < 0.005] = "not-a-date"
    t["orders"] = pd.DataFrame({
        "order_id": _blank_some(rng, order_id, 0.003),
        "customer_id": live_cust,
        "order_status": np.array(STATUSES, dtype=object)[rng.integers(0, len(STATUSES), no)],
        "order_purchase_timestamp": _ts(purchase),
        "order_approved_at": appr_txt,
        "order_delivered_carrier_date": _ts(carrier),
        "order_delivered_customer_date": deliv_txt,
        "order_estimated_delivery_date": _ts(estimated),
    })

    ni = n["order_items"]
    item_order = order_id[rng.integers(0, no, ni)]
    item_no = (pd.Series(item_order).groupby(item_order).cumcount() + 1).astype(str).to_numpy(object)
    item_no[rng.random(ni) < 0.003] = "xx"
    ship = DATE_LO + rng.integers(0, 740 * 86400, ni).astype("timedelta64[s]")
    t["order_items"] = pd.DataFrame({
        "order_id": item_order,
        "order_item_id": item_no,
        "product_id": prod_id[rng.integers(0, len(prod_id), ni)],
        "seller_id": seller_id[rng.integers(0, len(seller_id), ni)],
        "shipping_limit_date": _ts(ship),
        "price": _comma(rng, rng.integers(85, 670000, ni) / 100.0),
        "freight_value": _comma(rng, rng.integers(0, 40000, ni) / 100.0),
    })

    npay = n["order_payments"]
    pay_order = order_id[rng.integers(0, no, npay)]
    ptype = np.array(PAYMENT_TYPES, dtype=object)[rng.integers(0, len(PAYMENT_TYPES), npay)]
    ptype[rng.random(npay) < 0.002] = ""
    t["order_payments"] = pd.DataFrame({
        "order_id": pay_order,
        "payment_sequential": (pd.Series(pay_order).groupby(pay_order).cumcount() + 1)
        .astype(str).to_numpy(object),
        "payment_type": ptype,
        "payment_installments": rng.integers(1, 11, npay).astype(str),
        "payment_value": _comma(rng, rng.integers(1, 1400000, npay) / 100.0),
    })

    nr = n["order_reviews"]
    n_dup = max(1, nr // 120)
    n_base = nr - n_dup
    rid = _ids(rng, n_base)
    dup_src = rng.integers(0, n_base, n_dup)
    review_id = np.concatenate([_blank_some(rng, rid, 0.002), rid[dup_src]])
    r_order = order_id[rng.integers(0, no, n_base)]
    r_order = np.concatenate([r_order, r_order[dup_src]])
    score = rng.integers(1, 6, nr).astype(str).astype(object)
    u = rng.random(nr)
    score[u < 0.004] = "0"
    score[(u >= 0.004) & (u < 0.008)] = "9"
    score[(u >= 0.008) & (u < 0.01)] = "x"
    created = DATE_LO + rng.integers(0, 740, nr).astype("timedelta64[D]")
    answered = created.astype("datetime64[s]") + rng.integers(3600, 5 * 86400, nr).astype(
        "timedelta64[s]")
    answered[n_base:] += np.timedelta64(86400, "s")  # the duplicate is the later answer
    msg = []
    for k in rng.integers(0, 12, nr):
        if k == 0:
            msg.append("")
        elif k == 1:
            msg.append(" ")
        else:
            words = [WORDS[j] for j in rng.integers(0, len(WORDS), k)]
            if k % 3 == 0:  # a quoted comment with an embedded newline
                words.insert(k // 2, "\n")
            msg.append(" ".join(words))
    t["order_reviews"] = pd.DataFrame({
        "review_id": review_id,
        "order_id": r_order,
        "review_score": score,
        "review_comment_title": np.where(rng.random(nr) < 0.1, "recomendo", ""),
        "review_comment_message": np.array(msg, dtype=object),
        "review_creation_date": _ts(created.astype("datetime64[s]")),
        "review_answer_timestamp": _ts(answered),
    })
    return t


def write_csvs(tables: dict[str, pd.DataFrame], out_dir: str) -> dict[str, str]:
    """One CSV per table; fields holding a comma or newline are quoted."""
    os.makedirs(out_dir, exist_ok=True)
    paths = {}
    for name, df in tables.items():
        p = os.path.join(out_dir, f"{name}.csv")
        df.to_csv(p, index=False, encoding="utf-8")
        paths[name] = p
    return paths


def _valid(s: pd.Series) -> pd.Series:
    return s.str.strip() != ""


def expected_counts(t: dict[str, pd.DataFrame]) -> dict[str, int]:
    """Rows each ``bronze.<t>``, ``silver.<t>`` and ``gold.<t>`` must hold,
    from the rules of the reference's load procedures, not the engine."""
    exp = {f"bronze.{k}": len(v) for k, v in t.items()}
    for k, idcol in [("customers", "customer_id"), ("sellers", "seller_id"),
                     ("category_translation", "product_category_name"),
                     ("products", "product_id")]:
        exp[f"silver.{k}"] = int(_valid(t[k][idcol]).sum())

    g = t["geolocation"]
    ok = (_valid(g.geolocation_zip_code_prefix) & _valid(g.geolocation_city)
          & _valid(g.geolocation_state))
    g = g[ok]
    folded = pd.DataFrame({
        "z": g.geolocation_zip_code_prefix.str.strip().str[:10],
        "c": g.geolocation_city.str.strip().str.lower().map(lambda s: s.translate(_FOLD)),
        "s": g.geolocation_state.str.strip().str[:2].str.upper(),
    })
    exp["silver.geolocation"] = len(folded.drop_duplicates())

    o = t["orders"]
    o = o[_valid(o.order_id) & _valid(o.customer_id)]
    exp["silver.orders"] = len(o)

    i = t["order_items"]
    i = i[_valid(i.order_id) & i.order_item_id.str.fullmatch(r"\d+")
          & _valid(i.product_id) & _valid(i.seller_id)]
    exp["silver.order_items"] = len(i)

    p = t["order_payments"]
    exp["silver.order_payments"] = int(
        (_valid(p.order_id) & (p.payment_type != "")
         & p.payment_sequential.str.fullmatch(r"\d+")).sum())

    r = t["order_reviews"]
    r = r[_valid(r.review_id) & _valid(r.order_id)
          & r.review_score.isin(["1", "2", "3", "4", "5"])]
    r = r.assign(review_id=r.review_id.str.strip(), order_id=r.order_id.str.strip())
    r = r.drop_duplicates("review_id")
    exp["silver.order_reviews"] = len(r)

    cust = set(t["customers"].customer_id.str.strip()) - {""}
    prod = set(t["products"].product_id.str.strip()) - {""}
    sell = set(t["sellers"].seller_id.str.strip()) - {""}
    fact_orders = set(o.order_id.str.strip()[o.customer_id.str.strip().isin(cust)])
    # every day of 2016-2022 plus the 19000101 unknown-date member
    exp["gold.dim_date"] = (pd.Timestamp("2022-12-31") - pd.Timestamp("2016-01-01")).days + 2
    exp["gold.dim_customer"] = exp["silver.customers"]
    exp["gold.dim_product"] = exp["silver.products"]
    exp["gold.dim_seller"] = exp["silver.sellers"]
    exp["gold.fact_orders"] = len(fact_orders)
    exp["gold.fact_order_items"] = int(
        (i.order_id.str.strip().isin(fact_orders) & i.product_id.str.strip().isin(prod)
         & i.seller_id.str.strip().isin(sell)).sum())
    exp["gold.fact_reviews"] = int(r.order_id.isin(fact_orders).sum())
    return exp
