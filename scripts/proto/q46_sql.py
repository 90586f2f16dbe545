"""Build + validate DuckDB oracle SQL for q46/q47/q48 against Python kernel port."""
import duckdb, sys, json
sys.path.insert(0, '/root/repo/scripts/proto')
from kernels import *

DOCS = "/root/testdata/sf0.01/documents.parquet"
con = duckdb.connect()
con.execute(f"CREATE VIEW documents AS SELECT * FROM read_parquet('{DOCS}')")

# shared SQL fragments (single-statement composable)
FNV = lambda tok: f"""list_reduce(
  list_prepend(CAST(14695981039346656037 AS HUGEINT),
    list_transform(string_split({tok}, ''), c -> CAST(unicode(c) AS HUGEINT))),
  (a, b) -> CAST(xor(CAST(a AS UBIGINT), CAST(b AS UBIGINT)) AS HUGEINT) * 1099511628211 % 18446744073709551616)"""

# rotl in unsigned hugeint domain
ROTL = lambda x, k: f"(({x}) * {1<<k} % 18446744073709551616 + ({x}) // {1<<(64-k)})"

shingles_sql = f"""
WITH tok AS (
  SELECT doc_id,
    list_transform(regexp_split_to_array(lower(trim(text)), ' +'), t -> {FNV('t')}) AS th
  FROM documents),
sh AS (
  SELECT doc_id,
    list_sort(list_distinct(CASE WHEN len(th) >= 3 THEN
      list_transform(generate_series(1, len(th)-2), g ->
        xor(xor(CAST({ROTL('th[g]', 1)} AS UBIGINT),
                CAST({ROTL('th[g+1]', 22)} AS UBIGINT)),
            CAST({ROTL('th[g+2]', 43)} AS UBIGINT)))
    ELSE
      [CAST(list_reduce(list_prepend(CAST(0 AS HUGEINT), th),
        (a, x) -> CAST(xor(CAST({ROTL('a', 5)} AS UBIGINT), CAST(x AS UBIGINT)) AS HUGEINT)) AS UBIGINT)]
    END)) AS sh
  FROM tok)
SELECT doc_id, sh FROM sh ORDER BY doc_id
"""
rows = con.execute(shingles_sql).fetchall()
pydocs = con.execute("SELECT doc_id, text FROM documents ORDER BY doc_id").fetchall()
bad = 0
for (d1, sh_sql), (d2, text) in zip(rows, pydocs):
    assert d1 == d2
    exp = shingle_hashes(text)
    got = sorted(int(x) for x in sh_sql)
    if got != exp:
        bad += 1
        if bad <= 2: print("MISMATCH doc", d1, "got[:3]", got[:3], "exp[:3]", exp[:3])
print(f"shingles: {len(rows)-bad}/{len(rows)} match")

# ---- full q46 pipeline in SQL ----
q46_sql = f"""
WITH tok AS (
  SELECT doc_id,
    list_transform(regexp_split_to_array(lower(trim(text)), ' +'), t -> {FNV('t')}) AS th
  FROM documents),
sh AS (
  SELECT doc_id,
    list_sort(list_distinct(CASE WHEN len(th) >= 3 THEN
      list_transform(generate_series(1, len(th)-2), g ->
        xor(xor(CAST({ROTL('th[g]', 1)} AS UBIGINT),
                CAST({ROTL('th[g+1]', 22)} AS UBIGINT)),
            CAST({ROTL('th[g+2]', 43)} AS UBIGINT)))
    ELSE
      [CAST(list_reduce(list_prepend(CAST(0 AS HUGEINT), th),
        (a, x) -> CAST(xor(CAST({ROTL('a', 5)} AS UBIGINT), CAST(x AS UBIGINT)) AS HUGEINT)) AS UBIGINT)]
    END)) AS sh
  FROM tok),
sig AS (
  SELECT doc_id, sh,
    list_transform(generate_series(1, 16), i ->
      list_aggregate(list_transform(sh, x ->
        ((((2654435769 * i) % 1073741789) | 1) * CAST(x % 4294967296 AS BIGINT)
          + (2246822507 * i + 668265263) % 1073741789) % 4294967311), 'min')) AS sig
  FROM sh),
banded AS (
  SELECT doc_id, b.band_idx, sig[b.band_idx*4+1 : b.band_idx*4+4] AS band
  FROM sig, (SELECT unnest(generate_series(0,3)) AS band_idx) b),
pairs AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM banded a JOIN banded b
    ON a.band_idx = b.band_idx AND a.band = b.band AND a.doc_id < b.doc_id),
verified AS (
  SELECT p.id_a, p.id_b,
    len(list_filter(sa.sh, x -> list_contains(sb.sh, x))) AS isz,
    len(sa.sh) + len(sb.sh) - len(list_filter(sa.sh, x -> list_contains(sb.sh, x))) AS usz
  FROM pairs p
  JOIN sh sa ON sa.doc_id = p.id_a
  JOIN sh sb ON sb.doc_id = p.id_b)
SELECT id_a, id_b,
  CAST(isz AS INTEGER) AS intersection_size,
  CAST(usz AS INTEGER) AS union_size,
  CAST(CAST(isz AS DOUBLE) / usz AS DOUBLE) AS jaccard
FROM verified
WHERE CAST(isz AS DOUBLE) / usz >= 0.2
ORDER BY id_a, id_b
"""
got = con.execute(q46_sql).fetchall()
print("q46 sql rows:", len(got))

# python reference
sets = {d: set(shingle_hashes(t)) for d, t in pydocs}
sigs = {d: minhash_sig(sorted(sets[d])) for d in sets}
from collections import defaultdict
buckets = defaultdict(list)
for d, sg in sigs.items():
    for bi in range(4):
        buckets[(bi, tuple(sg[bi*4:bi*4+4]))].append(d)
cand = set()
for ids in buckets.values():
    for i in range(len(ids)):
        for j in range(i+1, len(ids)):
            a, b = sorted((ids[i], ids[j]))
            cand.add((a, b))
exp = []
for a, b in sorted(cand):
    isz = len(sets[a] & sets[b]); usz = len(sets[a] | sets[b])
    if isz/usz >= 0.2:
        exp.append((a, b, isz, usz, isz/usz))
print("py rows:", len(exp))
ok = [tuple(r) for r in got] == [tuple(e) for e in exp]
print("q46 end-to-end match:", ok)
if not ok:
    print("sql[:3]:", got[:3]); print("py[:3]:", exp[:3])
