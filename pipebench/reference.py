"""Independent reference checks, run with DuckDB over the same
generated files the program read. Each check returns a list of
(key, ok, detail) tuples; a key is the op key the JVM recorded, so a
failed check fails every timed op with that key."""
import math
from decimal import Decimal

import duckdb
import pandas as pd
import pyarrow.parquet as pq

SEP = "\u0001"


def canon(v) -> str:
    if v is None or (isinstance(v, float) and math.isnan(v)):
        return "NULL"
    if isinstance(v, Decimal):
        return f"{v:f}"
    if isinstance(v, float):
        return f"{v:.17g}"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(canon(x) for x in v) + "]"
    if hasattr(v, "tolist") and not isinstance(v, str):
        return canon(v.tolist())
    return str(v)


def frame_rows(df: pd.DataFrame) -> list:
    """Sorted canonical rows with columns in name order."""
    cols = sorted(df.columns)
    rows = [SEP.join(canon(v) for v in r)
            for r in df[cols].astype(object).itertuples(index=False, name=None)]
    return sorted(rows)


def compare(key: str, got: pd.DataFrame, want: pd.DataFrame):
    if sorted(got.columns) != sorted(want.columns):
        return (key, False, f"columns {sorted(got.columns)} != {sorted(want.columns)}")
    g, w = frame_rows(got), frame_rows(want)
    if len(g) != len(w):
        return (key, False, f"rows {len(g)} != reference {len(w)}")
    bad = [i for i in range(len(g)) if g[i] != w[i]]
    if bad:
        return (key, False, f"{len(bad)}/{len(g)} rows differ, first: "
                            f"{g[bad[0]]!r} vs reference {w[bad[0]]!r}")
    return (key, True, f"{len(g)} rows")


def read_dump(path: str) -> pd.DataFrame:
    return pq.read_table(path).to_pandas()


# ------------------------------------------------------- search_index
PAYLOAD_SQL = """
WITH pvt AS (
  SELECT v.DepositId,
   max(CASE WHEN cfid IN ({meter}) THEN val END) meter,
   max(CASE WHEN cfid IN ({floor}) THEN val END) floor,
   max(CASE WHEN cfid IN ({rooms}) THEN val END) rooms,
   max(CASE WHEN cfid IN ({age}) THEN val END) age,
   max(CASE WHEN cfid IN ({parking}) THEN val END) parking,
   max(CASE WHEN cfid IN ({warehouse}) THEN val END) warehouse,
   max(CASE WHEN cfid IN ({elevator}) THEN val END) elevator,
   max(CASE WHEN cfid IN ({loan}) THEN val END) loan
  FROM (SELECT c.DepositId, c.CustomFieldId cfid,
               coalesce(c.Value, o.Value) val
        FROM custom_field_values c
        LEFT JOIN custom_field_options o ON c.CustomFieldOptionId = o.Id) v
  GROUP BY v.DepositId),
minrole AS (SELECT UserId, min(RoleId) RoleId FROM user_roles GROUP BY 1),
core AS (
  SELECT d.*, dc.Link dc_link, r.Name region_name, ur.RoleId, b.Title bi_title,
   p.meter, p.floor, p.rooms, p.age, p.parking, p.warehouse, p.elevator, p.loan
  FROM deposits d
  LEFT JOIN deposit_categories dc ON d.DepositCategoryId = dc.Id
  LEFT JOIN base_infos b ON d.PropertyTypeId = b.Id
  LEFT JOIN regions r ON d.RegionId = r.Id
  LEFT JOIN pvt p ON d.Id = p.DepositId
  LEFT JOIN minrole ur ON d.UserId = ur.UserId
  WHERE {where} AND d.ModifiedDate > TIMESTAMP '{watermark}'),
payload AS (
  SELECT Id id,
   CASE WHEN bi_title LIKE '%مشارکت%' THEN NULL
        WHEN bi_title LIKE '%زمین%' OR bi_title LIKE '%صنعتی%'
          THEN 'باغ باغچه و زمین'
        ELSE trim(bi_title) END property_type,
   coalesce(dc_link, '') deposit_category,
   cast(CASE WHEN RoleId IS NULL OR RoleId = 0 THEN 13 ELSE RoleId END as bigint) user_role_id,
   cast(coalesce(CityId, 0) as bigint) city_id,
   coalesce(Title, '') title,
   strftime(timezone('Asia/Tehran', CreatedTime) AT TIME ZONE 'UTC',
            '%Y-%m-%dT%H:%M:%S') || '+00:00' created_time,
   strftime(timezone('Asia/Tehran', ModifiedDate) AT TIME ZONE 'UTC',
            '%Y-%m-%dT%H:%M:%S') || '+00:00' modified_time,
   coalesce(region_name, '') region,
   cast(coalesce(Price, 0) as bigint) price,
   cast(coalesce(RentalPrice, 0) as bigint) rental_price,
   cast(coalesce(floor(try_cast(meter as double)), 0) as bigint) meter,
   coalesce(floor, '') floor,
   coalesce(rooms, '') rooms,
   cast(CASE WHEN coalesce(floor(try_cast(age as double)), 0) > 30 THEN 1373
             WHEN coalesce(floor(try_cast(age as double)), 0) > 20 THEN 1383
             ELSE 1404 END as int) age,
   (parking IS NOT NULL AND parking <> '') parking,
   (warehouse IS NOT NULL AND warehouse <> '') warehouse,
   (elevator IS NOT NULL AND elevator <> '') elevator,
   (loan IS NOT NULL AND loan <> '') loan,
   coalesce(Description, '') description,
   {status} status
  FROM core)
SELECT * FROM payload WHERE property_type IS NOT NULL
"""

LOOKUP_SQL = """
WITH pvt AS (
  SELECT v.DepositId,
   max(CASE WHEN cfid IN ({meter}) THEN val END) meter,
   max(CASE WHEN cfid IN ({floor}) THEN val END) floor,
   max(CASE WHEN cfid IN ({rooms}) THEN val END) rooms,
   max(CASE WHEN cfid IN ({age}) THEN val END) age,
   max(CASE WHEN cfid IN ({parking}) THEN val END) parking,
   max(CASE WHEN cfid IN ({warehouse}) THEN val END) warehouse,
   max(CASE WHEN cfid IN ({elevator}) THEN val END) elevator,
   max(CASE WHEN cfid IN ({loan}) THEN val END) loan
  FROM (SELECT c.DepositId, c.CustomFieldId cfid,
               coalesce(c.Value, o.Value) val
        FROM custom_field_values c
        LEFT JOIN custom_field_options o ON c.CustomFieldOptionId = o.Id
        WHERE c.DepositId IN (SELECT id FROM ids)) v
  GROUP BY v.DepositId)
SELECT d.Id, d.Title, dc.Link, b.Title bt, d.CityId, r.Name, d.Price,
  d.RentalPrice, p.meter, p.floor, p.rooms, p.age, p.parking, p.warehouse,
  p.elevator, p.loan
FROM deposits d
LEFT JOIN deposit_categories dc ON d.DepositCategoryId = dc.Id
LEFT JOIN base_infos b ON d.PropertyTypeId = b.Id
LEFT JOIN regions r ON d.RegionId = r.Id
LEFT JOIN pvt p ON d.Id = p.DepositId
WHERE d.StatusId = 1247 AND d.Id IN (SELECT id FROM ids)
"""


def _star_con(data: str):
    con = duckdb.connect()
    con.execute("SET threads=2")
    for t in ("deposits", "custom_field_values", "custom_field_options",
              "deposit_categories", "base_infos", "regions", "user_roles"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data}/{t}.parquet')")
    return con


def check_search_index(data: str, jvm: dict, field_groups: dict) -> list:
    con = _star_con(data)
    groups = {k: ",".join(map(str, v)) for k, v in field_groups.items()}
    out = []
    for d in jvm["dumps"]:
        key = d["key"]
        if key == "rebuild":
            sql = PAYLOAD_SQL.format(where="d.StatusId = 1247",
                                     watermark=jvm["rebuild_watermark"],
                                     status="'active'",
                                     **groups)
        else:
            w = key.split("@", 1)[1]
            sql = PAYLOAD_SQL.format(
                where="d.StatusId <> 1254", watermark=w,
                status="CASE WHEN StatusId = 1247 THEN 'active' ELSE 'inactive' END",
                **groups)
        out.append(compare(key, read_dump(d["path"]), con.execute(sql).fetchdf()))
    # lookups: every timed lookup's rows against the reference row
    lookups = [o for o in jvm["ops"] if o["op"] == "lookup"]
    ids = sorted({int(o["key"].split("@")[1]) for o in lookups})
    con.execute("CREATE TABLE ids AS SELECT unnest(?::BIGINT[]) id", [ids])
    want = {}
    for r in con.execute(LOOKUP_SQL.format(**groups)).fetchall():
        want[int(r[0])] = SEP.join(canon(v) for v in r)
    for o in lookups:
        i = int(o["key"].split("@")[1])
        exp = [want[i]] if i in want else []
        ok = sorted(o["rows"]) == exp
        out.append((o["key"], ok, "" if ok else f"got {o['rows']!r} want {exp!r}"))
    return out


# ---------------------------------------------------- corpus_curation
def check_corpus(data: str, jvm: dict) -> list:
    con = duckdb.connect()
    con.execute("SET threads=2")
    for t in ("documents", "embeddings"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data}/{t}.parquet')")
    out = []
    for d in jvm["dumps"]:
        try:
            want = con.execute(d["oracle"]).fetchdf()
            out.append(compare(d["key"], read_dump(d["path"]), want))
        except Exception as e:  # a reference that cannot run is a failure
            out.append((d["key"], False, f"{type(e).__name__}: {e}"))
    return out


# ------------------------------------------------------ listing_store
COLS = ["content_url", "fetched_s", "title", "cat2_slug", "cat3_slug",
        "city_slug", "price_value"]


def replay(ref: pd.DataFrame, rounds: list) -> dict:
    """Last-writer-wins replay of the staged rows, round by round, minus
    each maintenance DELETE: {round: {url: row tuple}}."""
    state, states = {}, {}
    by_round = {r: g for r, g in ref.groupby("round")}
    for info in rounds:
        r = info["round"]
        g = by_round.get(r)
        if g is not None:
            for row in g[COLS].itertuples(index=False, name=None):
                cur = state.get(row[0])
                if cur is None or row[1] > cur[1]:
                    state[row[0]] = row
        state = {k: v for k, v in state.items() if v[1] >= info["cutoff"]}
        states[r] = dict(state)
    return states


def check_listing_store(data: str, jvm: dict) -> list:
    ref = pq.read_table(f"{data}/ref_listings.parquet").to_pandas()
    rounds = jvm["rounds"]
    states = replay(ref, rounds)
    version_round = {}
    for info in rounds:
        version_round.setdefault(info["version"], info["round"])
    out = []
    digests = {}
    for d in jvm["dumps"]:
        v = d["version"]
        st = states[version_round[v]]
        want = pd.DataFrame(list(st.values()), columns=COLS)
        out.append(compare(d["key"], read_dump(d["path"]), want))
        digests[v] = d["digest"]
    for o in jvm["ops"]:
        if o["op"] in ("scan", "time_travel"):
            v = int(o["key"].split("@")[1])
            ok = o["digest"] == digests.get(v)
            out.append((o["key"], ok, "" if ok else f"digest {o['digest']} != dump {digests.get(v)}"))
        elif o["op"] == "filtered_read":
            _, v, city = o["key"].split("@")
            st = states[version_round[int(v)]]
            agg = {}
            for row in st.values():
                if row[5] == city:
                    n, s = agg.get(row[4], (0, 0))
                    agg[row[4]] = (n + 1, s + row[6])
            exp = sorted(SEP.join([k, str(n), str(s)]) for k, (n, s) in agg.items())
            ok = sorted(o["rows"]) == exp
            out.append((o["key"], ok, "" if ok else f"got {sorted(o['rows'])[:3]} want {exp[:3]}"))
        elif o["op"] == "change_feed":
            out.append(check_feed(o, states, version_round))
    return out


def check_feed(o: dict, states: dict, version_round: dict):
    """The change feed of a round's commits must net, key by key, to the
    difference between the replay before the round and after it. A
    feed row is (key, change_type, version, old columns, new columns)."""
    lo, hi = (int(x) for x in o["key"].split("@")[1].split("-"))
    r_hi = version_round[hi]
    before = states.get(r_hi - 1, {}) if lo > 0 else {}
    after = states[r_hi]
    n = len(COLS) - 1
    by_key = {}
    for r in sorted((r.split(SEP) for r in o["rows"]), key=lambda r: int(r[2])):
        by_key.setdefault(r[0], []).append(r)

    def shown(row):
        return None if row is None else [str(v) for v in row[1:]]

    bad = [k for k in set(before) | set(after)
           if before.get(k) != after.get(k) and k not in by_key]
    for k, rows in by_key.items():
        first, last = rows[0], rows[-1]
        old = None if first[1] == "added" else first[3:3 + n]
        new = None if last[1] == "removed" else last[3 + n:3 + 2 * n]
        if old != shown(before.get(k)) or new != shown(after.get(k)):
            bad.append(k)
    return (o["key"], not bad, "" if not bad else
            f"{len(bad)} keys disagree with the replay, e.g. {sorted(bad)[0]}")
