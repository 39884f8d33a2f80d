"""Seeded input generators. The same (workload, seed, scale) always
writes the same files. Every generator writes the program's inputs
plus, where the reference check needs them, the generator's own view
of the data (`ref_*` files) that the program never reads.

Schemas follow FIXTURES.md: §1 star schema for search_index, the
documents/embeddings tables of TESTDATA.md for corpus_curation, and §3
raw divar JSON (wrapped in a fetch envelope) for listing_store.
"""
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# --------------------------------------------------------------- star
# CustomFieldId groups, as in operators/SearchIndex.scala fieldGroups
FIELD_GROUPS = {
    "meter": [1224, 1225, 1226, 1227, 1228, 1229, 1230, 1231, 1232, 1233,
              1234, 1235, 1236, 1237, 1238, 1239, 1240, 1241, 1242, 1243,
              1200, 1167, 1159, 1117, 1125, 1133, 1174, 1181, 1162, 1150,
              1141, 1203, 1261, 1196, 1188, 1199, 1195, 1260, 1202, 1244,
              1245, 1149, 1155, 1158, 1163, 1161],
    "floor": [1189, 1142, 1126, 1118, 1134, 1175, 1182, 1168],
    "rooms": [1143, 1135, 1127, 1119, 1176, 1169, 1166, 1151, 1197, 1183,
              1190, 1262],
    "age": [1136, 1152, 1184, 1191, 1198, 1263, 1170, 1177, 1144, 1120,
            1128],
    "parking": [1185, 1192, 1171, 1178, 1121, 1129, 1137, 1145],
    "warehouse": [1193, 1186, 1179, 1172, 1146, 1138, 1130, 1122],
    "elevator": [1123, 1131, 1139, 1147, 1173, 1180, 1187, 1194],
    "loan": [1148, 1140, 1132, 1124],
}
BASE_INFOS = [(1257, "آپارتمان مسکونی"), (1258, " ویلا "),
              (1259, "مشارکت در ساخت"), (1260, "زمین کشاورزی"),
              (1261, "سوله صنعتی"), (1262, "دفتر کار")]
# first instant of the ModifiedDate range (naive Tehran wall time)
STAR_T0 = np.datetime64("2025-01-01T00:00:00", "us")
STAR_SPAN_S = 270 * 86400


def _ts(seconds):
    return STAR_T0 + seconds.astype("timedelta64[s]")


def gen_star(out: str, seed: int, n_deposits: int, row_group: int) -> dict:
    """FIXTURES.md §1 star schema; custom_field_values is clustered by
    DepositId in `row_group`-row groups so point lookups prune."""
    rng = np.random.default_rng([seed, 1])
    os.makedirs(out, exist_ok=True)
    n = n_deposits
    ids = np.arange(1, n + 1, dtype=np.int64)
    n_users = max(10, n // 4)
    status = rng.choice(np.array([1247, 1254, 1300], dtype=np.int32), n,
                        p=[0.7, 0.15, 0.15])
    modified_s = rng.integers(0, STAR_SPAN_S, n)
    created_s = modified_s - rng.integers(0, 30 * 86400, n)
    region = rng.integers(1, 201, n).astype(np.int32)
    region_null = rng.random(n) < 0.05
    price = rng.integers(1, 2000, n).astype(np.int64) * 1_000_000
    price_null = rng.random(n) < 0.1
    rent = rng.integers(0, 50, n).astype(np.int64) * 100_000
    rent_null = rng.random(n) < 0.5
    title_null = rng.random(n) < 0.05
    titles = np.array([f"listing {i % 9973}" for i in ids], dtype=object)
    titles[title_null] = None
    deposits = pa.table({
        "Id": ids,
        "Title": pa.array(titles, pa.string()),
        "Description": pa.array(
            np.where(rng.random(n) < 0.3, None,
                     np.char.add("desc ", (ids % 101).astype(str))).tolist(),
            pa.string()),
        "DepositCategoryId": rng.integers(6, 9, n).astype(np.int32),
        "PropertyTypeId": rng.choice(
            np.array([b[0] for b in BASE_INFOS], dtype=np.int32), n),
        "StatusId": status,
        "UserId": rng.integers(1, n_users + 1, n).astype(np.int64),
        "CityId": rng.integers(0, 51, n).astype(np.int32),
        "RegionId": pa.array(region, mask=region_null),
        "CreatedTime": pa.array(_ts(created_s)),
        "ModifiedDate": pa.array(_ts(modified_s)),
        "MainStreet": pa.nulls(n, pa.string()),
        "Price": pa.array(price, mask=price_null),
        "RentalPrice": pa.array(rent, mask=rent_null),
    })
    pq.write_table(deposits, f"{out}/deposits.parquet", row_group_size=row_group)

    # EAV: ~4 rows per deposit, some deposits with none, some with two
    # rows in one field group (the MAX-over-string case)
    per = rng.poisson(4.0, n)
    per[rng.random(n) < 0.05] = 0
    dep = np.repeat(ids, per)
    m = len(dep)
    groups = list(FIELD_GROUPS)
    g = rng.integers(0, len(groups), m)
    cfid = np.empty(m, dtype=np.int32)
    for gi, name in enumerate(groups):
        sel = g == gi
        cfid[sel] = rng.choice(np.array(FIELD_GROUPS[name], dtype=np.int32),
                               int(sel.sum()))
    use_option = (rng.random(m) < 0.2) & (g != 0)
    values = np.where(g == 0, rng.integers(30, 400, m),
                      rng.integers(0, 45, m)).astype(str).astype(object)
    values[rng.random(m) < 0.02] = "n/a"
    values[use_option] = None
    option = rng.integers(1, 501, m).astype(np.int32)
    cfv = pa.table({
        "DepositId": dep,
        "CustomFieldId": cfid,
        "CustomFieldOptionId": pa.array(option, mask=~use_option),
        "Value": pa.array(values.tolist(), pa.string()),
    })
    pq.write_table(cfv, f"{out}/custom_field_values.parquet",
                   row_group_size=row_group)
    pq.write_table(pa.table({
        "Id": np.arange(1, 501, dtype=np.int32),
        "Value": pa.array([str(i % 37) for i in range(1, 501)])}),
        f"{out}/custom_field_options.parquet")
    pq.write_table(pa.table({
        "Id": np.array([6, 7, 8], dtype=np.int32),
        "Link": ["residential-sell", "residential-rent", "commercial"]}),
        f"{out}/deposit_categories.parquet")
    pq.write_table(pa.table({
        "Id": np.array([b[0] for b in BASE_INFOS], dtype=np.int32),
        "Title": [b[1] for b in BASE_INFOS]}),
        f"{out}/base_infos.parquet")
    pq.write_table(pa.table({
        "Id": np.arange(1, 201, dtype=np.int32),
        "Name": [f"region-{i}" for i in range(1, 201)]}),
        f"{out}/regions.parquet")
    users = rng.integers(1, n_users + 1, n_users * 2).astype(np.int64)
    users = users[users % 9 != 0]  # some users have no role → default 13
    pq.write_table(pa.table({
        "UserId": users,
        "RoleId": rng.integers(0, 20, len(users)).astype(np.int32)}),
        f"{out}/user_roles.parquet")
    return {"deposits": n, "custom_field_values": m,
            "t0": str(STAR_T0), "span_s": STAR_SPAN_S}


# ------------------------------------------------------------- corpus
VOCAB = ("a the data spark row column table query join group agg sort "
         "hash key value filter scan merge batch stream window line part "
         "order customer vector big small fast slow").split()


def gen_corpus(out: str, seed: int, n_docs: int, n_vecs: int,
               row_group: int) -> dict:
    """documents + embeddings in the sf0.1 shape: 10-100 words over a
    30-word vocabulary with a few exact duplicates; unit-norm 64-d
    vectors around 10 label centroids."""
    rng = np.random.default_rng([seed, 2])
    os.makedirs(out, exist_ok=True)
    vocab = np.array(VOCAB, dtype=object)
    lens = rng.integers(10, 101, n_docs)
    words = rng.integers(0, len(vocab), int(lens.sum()))
    texts, pos = [], 0
    for ln in lens:
        texts.append(" ".join(vocab[words[pos:pos + ln]]))
        pos += ln
    # planted exact duplicates: a few texts re-appear with a marker
    n_dup = max(2, n_docs // 600)
    src = rng.choice(n_docs, n_dup, replace=False)
    dst = rng.choice(np.setdiff1d(np.arange(n_docs), src), n_dup,
                     replace=False)
    for s, d in zip(src, dst):
        texts[s] = texts[s] + " dup"
        texts[d] = texts[s]
    docs = pa.table({
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": texts,
        "lang": ["en"] * n_docs,
        "source": [f"src{i}" for i in rng.integers(0, 20, n_docs)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })
    pq.write_table(docs, f"{out}/documents.parquet", row_group_size=row_group)
    centroids = rng.normal(0, 1, (10, 64))
    labels = rng.integers(0, 10, n_vecs)
    v = centroids[labels] + rng.normal(0, 1.2, (n_vecs, 64))
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    emb = pa.table({
        "vec_id": np.arange(n_vecs, dtype=np.int64),
        "embedding": pa.array(list(v.astype(np.float32)),
                              pa.list_(pa.float32())),
        "label": labels.astype(np.int32),
    })
    pq.write_table(emb, f"{out}/embeddings.parquet", row_group_size=row_group)
    return {"documents": n_docs, "embeddings": n_vecs}


# ----------------------------------------------------------- listings
CITIES = [f"city{i}" for i in range(16)]
CATS = [("apartment-sell", "residential-sell"),
        ("apartment-rent", "residential-rent"),
        ("villa-sell", "residential-sell"),
        ("office-rent", "commercial-rent")]
ROUND_S = 3 * 3600  # event-time distance between rounds
LISTING_T0 = 1_735_689_600  # 2025-01-01T00:00:00Z, epoch seconds


def divar_raw(title: str, cat3: str, cat2: str, city: str, price: int) -> str:
    """A raw divar document (FIXTURES.md §3) carrying the fields the
    listing table keeps: share.title, analytics.{cat2,cat3,city} and a
    LIST_DATA "total price" row."""
    return json.dumps({
        "share": {"title": title},
        "analytics": {"cat2": cat2, "cat3": cat3, "city": city},
        "sections": [{"section_name": "LIST_DATA", "widgets": [
            {"widget_type": "UNEXPANDABLE_ROW",
             "data": {"title": "قیمت کل", "value": f"{price} تومان"}}]}],
    }, ensure_ascii=False)


def gen_listings(out: str, seed: int, rounds: int, per_round: int,
                 files_per_round: int) -> dict:
    """Rounds of raw listing fetches. Round r holds `per_round` distinct
    listings (new ones plus price updates of older ones, each with a
    fetch time inside the round) and a planted re-fetch share in
    [0.3, 0.5]: exact re-deliveries of the round's own fetches. Files
    go to `<out>/pending/r<r>/`; `<out>/ref_listings.parquet` holds the
    generator's view (one row per staged line) for the reference."""
    rng = np.random.default_rng([seed, 3])
    pending = os.path.join(out, "pending")
    os.makedirs(pending, exist_ok=True)
    next_id = 0
    seen = []  # listing ids staged so far
    ref = {k: [] for k in ("round", "content_url", "fetched_s", "title",
                           "cat2_slug", "cat3_slug", "city_slug",
                           "price_value", "refetch")}
    dup_shares = []
    for r in range(rounds + 1):  # round 0 is the warm-up round
        n_upd = 0 if r == 0 else int(per_round * 0.2)
        n_new = per_round - n_upd
        upd = (rng.choice(np.array(seen), n_upd, replace=False)
               if n_upd else np.array([], dtype=np.int64))
        new = np.arange(next_id, next_id + n_new)
        next_id += n_new
        seen.extend(new.tolist())
        lid = np.concatenate([new, upd]).astype(np.int64)
        fetched = (LISTING_T0 + r * ROUND_S
                   + rng.integers(0, 1200, len(lid))).astype(np.int64)
        share = float(rng.uniform(0.3, 0.5))
        dup_shares.append(share)
        # the re-fetch share is of the staged lines: d / (n + d) = share
        n_dup = int(round(len(lid) * share / (1 - share)))
        dup_idx = rng.integers(0, len(lid), n_dup)
        order = np.concatenate([np.arange(len(lid)), dup_idx])
        refetch = np.concatenate([np.zeros(len(lid), bool),
                                  np.ones(n_dup, bool)])
        perm = rng.permutation(len(order))
        order, refetch = order[perm], refetch[perm]
        cats = rng.integers(0, len(CATS), len(lid))
        cities = rng.integers(0, len(CITIES), len(lid))
        prices = rng.integers(100, 90000, len(lid)).astype(np.int64) * 1000
        lines = []
        for k, dup in zip(order, refetch):
            url = f"https://divar.ir/v/{lid[k]}"
            cat3, cat2 = CATS[cats[k]]
            city = CITIES[cities[k]]
            title = f"listing {lid[k]} r{r}"
            lines.append(json.dumps({
                "content_url": url, "fetched_s": int(fetched[k]),
                "raw": divar_raw(title, cat3, cat2, city, int(prices[k]))},
                ensure_ascii=False))
            for key, val in (("round", r), ("content_url", url),
                             ("fetched_s", int(fetched[k])),
                             ("title", title), ("cat2_slug", cat2),
                             ("cat3_slug", cat3), ("city_slug", city),
                             ("price_value", int(prices[k])),
                             ("refetch", bool(dup))):
                ref[key].append(val)
        rdir = os.path.join(pending, f"r{r:03d}")
        os.makedirs(rdir)
        for f, chunk in enumerate(np.array_split(np.arange(len(lines)),
                                                 files_per_round)):
            with open(os.path.join(rdir, f"part-{f:03d}.json"), "w") as fh:
                fh.write("\n".join(lines[i] for i in chunk) + "\n")
    pq.write_table(pa.table(ref), os.path.join(out, "ref_listings.parquet"))
    return {"rounds": rounds, "per_round": per_round,
            "refetch_share": [round(s, 4) for s in dup_shares]}
