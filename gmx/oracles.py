"""DuckDB oracle SQL for every driver-contract query.

The corpus (gmx.corpus) makes every metadata field a pure arithmetic function
of doc_id, so these oracles recompute the *expected* outputs directly from the
``documents``/``customer``/``embeddings`` views — they never parse XML.  A
match therefore certifies the whole Spark path (span synthesis -> reassembly ->
dispatch -> extraction -> joins) end-to-end, not just that two engines ran the
same query.

All arithmetic stays in integers (half-degree lattice, quantized embeddings)
so DuckDB and Spark agree bit-for-bit; see gmx.corpus docstring.
"""

from __future__ import annotations

import itertools

CELL_BASE = 268435456  # 2^28, matches gmx.geometry.cellgrid.CELL_BASE
Z = 4
NX = 1 << Z


def _d(expr: str) -> str:
    """Deterministic date string of an integer expression (corpus.date_str)."""

    return (
        f"printf('%04d-%02d-%02d', 2000+({expr})%22, 1+({expr})%12, 1+({expr})%28)"
    )


# extents CTE: the bbox arithmetic from corpus.bbox_halfdeg, in half-degrees
EXT = """
ext AS (
  SELECT doc_id AS i,
         printf('doc-%08d', doc_id) AS did,
         CASE doc_id%3 WHEN 0 THEN 'fgdc' WHEN 1 THEN 'iso' ELSE 'arcgis' END AS standard,
         CASE WHEN doc_id%97=0 THEN -360 ELSE -360 + (doc_id*37)%680 END AS wh,
         CASE WHEN doc_id%97=0 THEN -180 ELSE -180 + (doc_id*53)%330 END AS sh,
         CASE WHEN doc_id%97=0 THEN 360
              ELSE least(-360 + (doc_id*37)%680 + 1 + (doc_id*13)%40, 360) END AS eh,
         CASE WHEN doc_id%97=0 THEN 180
              ELSE least(-180 + (doc_id*53)%330 + 1 + (doc_id*29)%30, 180) END AS nh
  FROM documents
)"""

# query points from customer keys (gmx.queries._points), half-degrees
PTS = """
pts AS (
  SELECT c_custkey AS point_id,
         -360 + (c_custkey*91)%720 AS xh,
         -180 + (c_custkey*73)%360 AS yh
  FROM customer
)"""

# cell indices at level Z from half-degree ints (== floor-of-double formulas,
# equivalence exhaustively checked for the full lattice)
_IX = f"least((({{v}}+360)*{NX})//720, {NX - 1})"
_IY = f"least((({{v}}+180)*{NX})//360, {NX - 1})"


def _cell(ix: str, iy: str) -> str:
    return f"(CAST({Z} AS BIGINT)*{CELL_BASE} + ({ix}))*{CELL_BASE} + ({iy})"


# --- Spark's xxhash64 (XXH64, seed 42) as one DuckDB expression -------------
# Arithmetic is UHUGEINT masked to 64 bits (a mask and shifts, not a 128-bit
# modulo, which is about 40x slower).  Each sub-expression used twice is bound
# once as a lambda variable (``_let``), so the SQL text grows linearly.

_P1 = 0x9E3779B185EBCA87
_P2 = 0xC2B2AE3D27D4EB4F
_P3 = 0x165667B19E3779F9
_P4 = 0x85EBCA77C2B2AE63
_P5 = 0x27D4EB2F165667C5
_MASK = f"{(1 << 64) - 1}::UHUGEINT"
_names = itertools.count()


def _u(k: int) -> str:
    return f"{k % (1 << 64)}::UHUGEINT"


def _let(expr: str, body) -> str:
    """``body(v)`` with a fresh variable ``v`` bound to ``expr`` once."""

    v = f"_x{next(_names)}"
    return f"list_transform([{expr}], {v} -> {body(v)})[1]"


def _fold(init: str, lo: str, hi: str, item, step) -> str:
    """Left fold of ``step(acc, item(j))`` over j in [lo, hi), from ``init``."""

    j, a, x = (f"_x{next(_names)}" for _ in range(3))
    items = f"list_transform(range({lo}, {hi}), {j} -> {item(j)})"
    return f"list_reduce(list_prepend({init}, {items}), ({a}, {x}) -> {step(a, x)})"


def _mul(a: str, k: int) -> str:
    return f"((({a}) * {_u(k)}) & {_MASK})"


def _add(a: str, b: str) -> str:
    return f"((({a}) + ({b})) & {_MASK})"


def _rotl(x: str, r: int) -> str:
    return _let(x, lambda v: f"((({v} << {r}) & {_MASK}) | ({v} >> {64 - r}))")


def _round(acc: str, w: str) -> str:
    return _mul(_rotl(_add(acc, _mul(w, _P2)), 31), _P1)


def _word(h: str, k: str) -> str:
    """Mix one 8-byte little-endian word (also Spark's ``hashLong`` body)."""

    return _add(_mul(_rotl(f"xor({h}, {_round(_u(0), k)})", 27), _P1), _u(_P4))


def _int(h: str, k: str) -> str:
    """Mix one 4-byte word (also Spark's ``hashInt`` body)."""

    return _add(_mul(_rotl(f"xor({h}, {_mul(k, _P1)})", 23), _P2), _u(_P3))


def _byte(h: str, b: str) -> str:
    return _mul(_rotl(f"xor({h}, {_mul(b, _P5)})", 11), _P1)


def _fmix(h: str) -> str:
    h = _let(h, lambda v: f"xor({v}, {v} >> 33)")
    h = _let(_mul(h, _P2), lambda v: f"xor({v}, {v} >> 29)")
    return _let(_mul(h, _P3), lambda v: f"xor({v}, {v} >> 32)")


def _le(hx: str, off: str, nbytes: int) -> str:
    """The little-endian ``nbytes`` word at byte ``off`` of hex string ``hx``."""

    hexs = " || ".join(
        f"substr({hx}, 2*({off})+{2 * i + 1}, 2)" for i in reversed(range(nbytes))
    )
    return f"('0x' || {hexs})::UBIGINT::UHUGEINT"


def _hash_string(s: str, seed: str) -> str:
    """Spark's ``hashUnsafeBytes`` over the UTF-8 bytes of ``s``."""

    def body(sd, hx, n):
        inits = [_add(sd, _u(_P1 + _P2)), _add(sd, _u(_P2)), sd, _add(sd, _u(-_P1))]
        lanes = [
            _fold(inits[k], "0", f"{n} // 32", lambda j, k=k: _le(hx, f"32*{j}+{8 * k}", 8), _round)
            for k in range(4)
        ]

        def merge(v):
            h = _add(_add(_rotl(v[0], 1), _rotl(v[1], 7)), _add(_rotl(v[2], 12), _rotl(v[3], 18)))
            for x in v:
                h = _add(_mul(f"xor({h}, {_round(_u(0), x)})", _P1), _u(_P4))
            return h

        stripes = _let(lanes[0], lambda a: _let(lanes[1], lambda b: _let(
            lanes[2], lambda c: _let(lanes[3], lambda d: merge([a, b, c, d])))))
        h = f"(CASE WHEN {n} >= 32 THEN {stripes} ELSE {_add(sd, _u(_P5))} END)"
        h = _add(h, f"{n}::UHUGEINT")
        h = _fold(h, f"4*({n} // 32)", f"{n} // 8", lambda j: _le(hx, f"8*{j}", 8), _word)
        h = _fold(h, "0", f"({n} % 8) // 4", lambda j: _le(hx, f"8*({n} // 8)", 4), _int)
        h = _fold(
            h, f"8*({n} // 8) + 4*(({n} % 8) // 4)", n,
            lambda j: f"('0x' || substr({hx}, 2*{j}+1, 2))::INTEGER::UHUGEINT", _byte,
        )
        return _fmix(h)

    return _let(seed, lambda sd: _let(f"hex(encode({s}))", lambda hx: _let(
        f"len({hx}) // 2", lambda n: body(sd, hx, n))))


def xxhash64_sql(*cols: tuple[str, str]) -> str:
    """DuckDB expression equal to Spark's ``xxhash64(c1, c2, ...)`` (seed 42)
    as a signed BIGINT.  Each ``(expr, kind)`` column hashes with the
    previous result as its seed; ``kind`` is ``"string"`` (UTF-8 bytes),
    ``"int"`` (``hashInt``) or ``"long"`` (``hashLong``)."""

    h = _u(42)
    for expr, kind in cols:
        if kind == "string":
            h = _hash_string(expr, h)
        elif kind == "int":
            k = f"(({expr})::BIGINT & 4294967295)::UHUGEINT"
            h = _fmix(_int(_add(h, _u(_P5 + 4)), k))
        else:
            k = f"(({expr})::HUGEINT & {(1 << 64) - 1})::UHUGEINT"
            h = _fmix(_word(_add(h, _u(_P5 + 8)), k))
    # DuckDB evaluates both CASE branches, so the sign fix subtracts in HUGEINT
    return _let(h, lambda v: (
        f"({v}::HUGEINT - CASE WHEN {v} >= {_u(1 << 63)} "
        f"THEN {1 << 64}::HUGEINT ELSE 0 END)::BIGINT"))


def _ivf_twin_sql(train_iters: int = 1, lists: int = 16, nprobe: int = 4) -> str:
    """The ann_ivf_topk DuckDB twin as a generated CTE chain: seed centroids,
    ``train_iters`` exact-integer Lloyd iterations, then the final
    assignment/probe/score — one set of CTEs per iteration (the iterative
    loop unrolls into SQL, same trick as the recursive-CTE clustering twin
    but with a statically known round count)."""

    head = f"""
WITH q AS (
  SELECT vec_id,
         [CAST(floor(CAST(embedding[i] AS DOUBLE)*1000 + 0.5) AS BIGINT)
          for i in range(1, len(embedding)+1)] AS v
  FROM embeddings),
n AS (SELECT vec_id, v, CAST(list_sum([x*x for x in v]) AS BIGINT) AS nrm FROM q),
cent0 AS (SELECT vec_id, v FROM n WHERE vec_id % 37 = 0 ORDER BY vec_id LIMIT {lists}),
centsrc AS (
  SELECT vec_id, v FROM cent0
  UNION ALL
  SELECT vec_id, v FROM (SELECT vec_id, v FROM n ORDER BY vec_id LIMIT {lists})
  WHERE NOT EXISTS (SELECT 1 FROM cent0)),
cent_0 AS (
  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS idx, v AS cv,
         CASE WHEN CAST(list_sum([x*x for x in v]) AS BIGINT) = 0 THEN 1
              ELSE CAST(list_sum([x*x for x in v]) AS BIGINT) END AS cn
  FROM centsrc)"""

    iters = []
    for t in range(train_iters):
        iters.append(f""",
dot_{t} AS (
  SELECT n.vec_id, n.v, c.idx, c.cn,
         CAST(list_sum([n.v[i]*c.cv[i] for i in range(1, len(n.v)+1)]) AS BIGINT) AS cdot
  FROM n CROSS JOIN cent_{t} c),
rank_{t} AS (
  SELECT vec_id, v, idx,
         row_number() OVER (
           PARTITION BY vec_id
           ORDER BY CAST(sign(cdot) AS DOUBLE) * CAST(cdot*cdot AS DOUBLE)
                    / CAST(cn AS DOUBLE) DESC, idx ASC) AS prank
  FROM dot_{t}),
mexp_{t} AS (
  SELECT idx AS lid, generate_subscripts(v, 1) AS pos, unnest(v) AS val
  FROM rank_{t} WHERE prank = 1),
msum_{t} AS (
  SELECT lid, pos, CAST(SUM(val) AS BIGINT) AS s, COUNT(*) AS c
  FROM mexp_{t} GROUP BY lid, pos),
mvec_{t} AS (
  SELECT lid, list(CAST(floor(CAST(s AS DOUBLE)/c + 0.5) AS BIGINT) ORDER BY pos) AS cv
  FROM msum_{t} GROUP BY lid),
cent_{t + 1} AS (
  SELECT c0.idx, COALESCE(m.cv, c0.cv) AS cv,
         CASE WHEN CAST(list_sum([x*x for x in COALESCE(m.cv, c0.cv)]) AS BIGINT) = 0 THEN 1
              ELSE CAST(list_sum([x*x for x in COALESCE(m.cv, c0.cv)]) AS BIGINT) END AS cn
  FROM cent_{t} c0 LEFT JOIN mvec_{t} m ON m.lid = c0.idx)""")

    tail = f""",
ass AS (
  SELECT n.vec_id, n.v, n.nrm, c.idx, c.cn,
         CAST(list_sum([n.v[i]*c.cv[i] for i in range(1, len(n.v)+1)]) AS BIGINT) AS cdot
  FROM n CROSS JOIN cent_{train_iters} c),
rankedc AS (
  SELECT vec_id, v, nrm, idx,
         row_number() OVER (
           PARTITION BY vec_id
           ORDER BY CAST(sign(cdot) AS DOUBLE) * CAST(cdot*cdot AS DOUBLE)
                    / CAST(cn AS DOUBLE) DESC, idx ASC) AS prank
  FROM ass),
corpus AS (SELECT vec_id AS nid, v AS nv, nrm AS nn, idx AS list_id
           FROM rankedc WHERE prank = 1),
qr AS (SELECT vec_id AS qid, v AS qv, nrm AS qn, idx AS list_id
       FROM rankedc WHERE vec_id % 100 = 0 AND prank <= {nprobe}),
p AS (
  SELECT qid, nid,
         CAST(list_sum([qv[i]*nv[i] for i in range(1, len(qv)+1)]) AS BIGINT) AS dot,
         qn, nn
  FROM qr JOIN corpus USING (list_id) WHERE nid <> qid)
SELECT qid AS query_id, rank, nid AS neighbor_id FROM (
  SELECT qid, nid,
         row_number() OVER (
           PARTITION BY qid
           ORDER BY CAST(dot AS DOUBLE)/sqrt(CAST(qn*nn AS DOUBLE)) DESC, nid ASC) AS rank
  FROM p) WHERE rank <= 5"""

    return head + "".join(iters) + tail


def oracle_sql() -> dict[str, str]:
    o: dict[str, str] = {}

    o["extract_standard_counts"] = f"""
WITH {EXT}
SELECT standard, count(*) AS n FROM ext GROUP BY standard"""

    o["extract_titles"] = f"""
WITH {EXT}
SELECT did AS doc_id, standard, printf('Dataset %d', i) AS title FROM ext"""

    o["extract_bbox"] = f"""
WITH {EXT}
SELECT did AS doc_id,
       printf('%.1f', wh/2.0) AS west,
       printf('%.1f', sh/2.0) AS south,
       printf('%.1f', eh/2.0) AS east,
       printf('%.1f', nh/2.0) AS north
FROM ext"""

    o["extract_dates"] = f"""
WITH {EXT}
SELECT did AS doc_id,
       CASE i%4 WHEN 0 THEN 'single' WHEN 1 THEN 'multiple' WHEN 2 THEN 'range' ELSE '' END AS date_type,
       CASE i%4
         WHEN 0 THEN {_d('i')}
         WHEN 1 THEN {_d('i')} || '|' || {_d('i+500000')} || '|' || {_d('i+1000000')}
         WHEN 2 THEN {_d('i')} || '|' || {_d('i+500000')}
         ELSE '' END AS date_values
FROM ext"""

    o["extract_keywords"] = f"""
WITH {EXT}
SELECT did AS doc_id,
       printf('Place %d|Region %d', i%7, i%5) AS place,
       printf('Theme %d', i%11) AS theme,
       CASE WHEN i%2=0 THEN printf('Stratum %d', i%4) ELSE '' END AS stratum,
       printf('Temporal %d', i%6) AS temporal
FROM ext"""

    o["extract_arcgis_keywords"] = f"""
WITH {EXT}
SELECT did AS doc_id,
       printf('Discipline %d', i%4) AS disciplines,
       printf('Product %d', i%6) AS products,
       printf('Search %d|Search %d', i%9, i%3) AS searches,
       printf('Topic %d', i%5) AS topics
FROM ext WHERE standard='arcgis'"""

    o["extract_contacts"] = f"""
WITH {EXT}
SELECT did AS doc_id,
       CASE 1+i%3
         WHEN 1 THEN printf('Person %d', i*4)
         WHEN 2 THEN printf('Person %d|Person %d', i*4, i*4+1)
         ELSE printf('Person %d|Person %d|Person %d', i*4, i*4+1, i*4+2) END AS names,
       CASE 1+i%3
         WHEN 1 THEN printf('person%d@example.org', i*4)
         WHEN 2 THEN printf('person%d@example.org|person%d@example.org', i*4, i*4+1)
         ELSE printf('person%d@example.org|person%d@example.org|person%d@example.org',
                     i*4, i*4+1, i*4+2) END AS emails,
       CASE 1+i%3
         WHEN 1 THEN printf('ContactOrg %d', i%17)
         WHEN 2 THEN printf('ContactOrg %d|ContactOrg %d', i%17, (i+1)%17)
         ELSE printf('ContactOrg %d|ContactOrg %d|ContactOrg %d',
                     i%17, (i+1)%17, (i+2)%17) END AS orgs
FROM ext"""

    o["extract_attributes"] = f"""
WITH {EXT}
SELECT did AS doc_id,
       CASE WHEN standard='iso' AND i%25<>0 AND i%5=0
            THEN printf('CatAttr %d|CatAttr %d', 2*i, 2*i+1)
            ELSE printf('Attr %d|Attr %d', 2*i, 2*i+1) END AS labels,
       CASE WHEN standard='iso' AND i%25<>0 AND i%5=0
            THEN printf('CatAttr %d|CatAttr %d', 2*i, 2*i+1)
            WHEN standard='iso'
            THEN printf('Attr %d|Attr %d', 2*i, 2*i+1)
            ELSE printf('Alias %d|Alias %d', 2*i, 2*i+1) END AS aliases
FROM ext"""

    o["extract_digital_forms"] = f"""
WITH {EXT}
SELECT did AS doc_id,
       CASE WHEN i%2=0 THEN printf('Format %d-0', i)
            ELSE printf('Format %d-0|Format %d-1', i, i) END AS names,
       CASE WHEN i%2=0 THEN printf('Content %d-0', i)
            ELSE printf('Content %d-0|Content %d-1', i, i) END AS contents,
       CASE WHEN i%2=0 THEN printf('Spec %d-0', i)
            ELSE printf('Spec %d-0|Spec %d-1', i, i) END AS specs
FROM ext"""

    o["extract_process_steps"] = f"""
WITH {EXT}
SELECT did AS doc_id,
       CASE WHEN i%2=0 THEN printf('Process step %d-0', i)
            ELSE printf('Process step %d-0|Process step %d-1', i, i) END AS descriptions,
       CASE WHEN i%2=0 THEN printf('Src %d-0-0|Src %d-0-1', i, i)
            ELSE printf('Src %d-0-0|Src %d-0-1|Src %d-1-0|Src %d-1-1', i, i, i, i)
            END AS all_sources
FROM ext"""

    o["extract_larger_works"] = f"""
WITH {EXT}
SELECT did AS doc_id,
       printf('Larger work %d', i%23) AS lw_title,
       printf('Ed %d', i%3) AS lw_edition,
       printf('LW Author %d', i%13) AS lw_origin,
       printf('LW City %d', i%15) AS lw_place
FROM ext WHERE i%2=1"""

    o["extract_raster_info"] = f"""
WITH {EXT}
SELECT did AS doc_id,
       CASE WHEN i%10=1 THEN '3' ELSE '2' END AS dimensions,
       printf('%d', 100 + i%900) AS row_count,
       printf('%d', 100 + i%800) AS column_count,
       CASE WHEN i%10=1 THEN printf('%d', 1 + i%50) ELSE '' END AS vertical_count,
       printf('%d meters', 1 + i%30) AS x_resolution
FROM ext WHERE i%5=1"""

    o["extract_distribution_fields"] = f"""
WITH {EXT}
SELECT did AS doc_id,
       {_d('i')} AS publish_date,
       printf('dist%d@example.org', i%50) AS dist_email,
       printf('Use constraint %d', i%3) AS use_constraints,
       CASE WHEN i%2=0 THEN 'mailing' ELSE 'physical' END AS dist_address_type,
       printf('%d', i%100) AS processing_fees
FROM ext"""

    o["events_windowed_counts"] = """
SELECT (epoch_us(ts)//300000000)*300000000 AS window_start_us,
       event_type, count(*) AS n,
       min(event_id) AS min_event_id, max(event_id) AS max_event_id
FROM events GROUP BY 1, 2"""

    # 10-min windows sliding by 5: every event belongs to exactly the two
    # windows starting at floor(t/5m)*5m and that minus 5m
    o["events_sliding_counts"] = """
WITH x AS (
  SELECT (epoch_us(ts)//300000000)*300000000 AS w0, event_type, event_id
  FROM events)
SELECT ws AS window_start_us, event_type, count(*) AS n,
       min(event_id) AS min_event_id, max(event_id) AS max_event_id
FROM (
  SELECT w0 AS ws, event_type, event_id FROM x
  UNION ALL
  SELECT w0 - 300000000 AS ws, event_type, event_id FROM x
) GROUP BY 1, 2"""

    o["events_sessionize"] = """
WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS ts_us FROM events),
m AS (
  SELECT user_id, event_id, ts_us,
         CASE WHEN ts_us - lag(ts_us) OVER w > 1800000000 THEN 1 ELSE 0 END AS brk
  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)),
s AS (
  SELECT user_id, ts_us,
         CAST(SUM(brk) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
                             ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_seq
  FROM m)
SELECT user_id, session_seq, count(*) AS n_events,
       min(ts_us) AS start_us, max(ts_us) AS end_us
FROM s GROUP BY 1, 2"""

    # streaming twin: the watermarked stateful sessionizer emits exactly the
    # CLOSED subset of the batch sessions — closed by gap (a later session of
    # the same user exists) or by event-time timeout (the final watermark,
    # floor(max ts / 1ms) at 0s delay, passed end_ms + gap_ms + 1, Spark's
    # strict `timeout < watermark` semantics).  Values are identical to the
    # batch plan, so the filter is the only addition.
    o["events_sessionize_stream"] = """
WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS ts_us FROM events),
m AS (
  SELECT user_id, event_id, ts_us,
         CASE WHEN ts_us - lag(ts_us) OVER w > 1800000000 THEN 1 ELSE 0 END AS brk
  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)),
s AS (
  SELECT user_id, ts_us,
         CAST(SUM(brk) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
                             ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_seq
  FROM m),
sess AS (
  SELECT user_id, session_seq, count(*) AS n_events,
         min(ts_us) AS start_us, max(ts_us) AS end_us
  FROM s GROUP BY 1, 2),
wm AS (SELECT max(ts_us)//1000 AS wm_ms FROM e),
mx AS (SELECT user_id, max(session_seq) AS max_seq FROM sess GROUP BY 1)
SELECT sess.user_id, sess.session_seq, sess.n_events, sess.start_us, sess.end_us
FROM sess JOIN mx USING (user_id), wm
WHERE sess.session_seq < mx.max_seq
   OR sess.end_us//1000 + 1800000 + 1 < wm.wm_ms"""

    o["media_refs_extract"] = f"""
WITH {EXT}
SELECT did AS doc_id,
       printf('tile://4/%d/%d',
              least((wh+eh+720)*16//1440, 15),
              least((sh+nh+360)*16//720, 15)) AS media_ref
FROM ext WHERE i%5=1
UNION ALL
SELECT did, printf('catalog://%d', i) FROM ext
WHERE standard='iso' AND i%25<>0 AND i%5=0
UNION ALL
SELECT printf('cat-%08d', i), printf('catalog://%d', i) FROM ext
WHERE standard='iso' AND i%25<>0 AND i%5=0
UNION ALL
SELECT did, printf('catalog://missing/%d', i) FROM ext
WHERE standard='iso' AND i%25=0"""

    # The "decode" is the documented deterministic stub (gmx.media): payload
    # bytes are md5(media_ref) repeated, so width/height come from the first
    # two digest bytes and mean_luma from the digest byte-sum (payload[:256]
    # is exactly 16 digest repeats since len >= 512).  DuckDB recomputes the
    # digest bytes from md5()'s hex output.  This oracle models the stub
    # branch (no imaging stack in the gate container); with Pillow installed
    # the engine would decode for real and this gate would not apply.
    o["media_decode_stub"] = f"""
WITH {EXT},
refs AS (
  SELECT did AS doc_id,
         printf('tile://4/%d/%d',
                least((wh+eh+720)*16//1440, 15),
                least((sh+nh+360)*16//720, 15)) AS media_ref
  FROM ext WHERE i%5=1),
b AS (
  SELECT doc_id, media_ref,
         [CAST(('0x'||substr(md5(media_ref), 2*i-1, 2)) AS INT)
          for i in range(1, 17)] AS sb
  FROM refs)
SELECT doc_id, media_ref,
       CAST(64 + sb[1]*4 AS BIGINT) AS width,
       CAST(64 + sb[2]*4 AS BIGINT) AS height,
       CAST((16*CAST(list_sum(sb) AS BIGINT)) % 256 AS BIGINT) AS mean_luma,
       'stub' AS decoder
FROM b"""

    o["convert_to_iso"] = f"""
WITH {EXT}
SELECT did AS doc_id, 'iso' AS standard,
       printf('Dataset %d', i) AS title,
       printf('%.1f', wh/2.0) AS west,
       printf('Place %d|Region %d', i%7, i%5) AS place
FROM ext"""

    for _std in ("fgdc", "arcgis"):
        o[f"convert_to_{_std}"] = f"""
WITH {EXT}
SELECT did AS doc_id, '{_std}' AS standard,
       printf('Dataset %d', i) AS title,
       printf('%.1f', wh/2.0) AS west,
       printf('Place %d|Region %d', i%7, i%5) AS place
FROM ext"""

    # the corpus round-trips; only gmx.queries.SPAN_PLANT (one span, which
    # respan splits per section) is a violation
    o["spans_roundtrip_violations"] = """
SELECT printf('doc-%08d', doc_id) AS doc_id FROM documents WHERE 1=0
UNION ALL
SELECT 'planted-single-span'"""

    o["update_preserve_violations"] = """
SELECT printf('doc-%08d', doc_id) AS doc_id FROM documents WHERE 1=0"""

    # the corpus has no violation; of gmx.queries.QUARANTINE_PLANTS only the
    # out-of-range box is quarantined (the crossing box is valid)
    o["validate_quarantine"] = """
SELECT printf('doc-%08d', doc_id) AS doc_id, '' AS property, '' AS rule
FROM documents WHERE 1=0
UNION ALL
SELECT 'planted-out-of-range', 'bounding_box', 'out_of_range'"""

    ix0, ix1 = _IX.format(v="wh"), _IX.format(v="eh")
    iy0, iy1 = _IY.format(v="sh"), _IY.format(v="nh")
    o["spatial_tile_cover"] = f"""
WITH {EXT}
SELECT did AS doc_id,
       UNNEST(flatten([[{_cell('ix', 'iy')} for iy in range({iy0}, ({iy1})+1)]
                       for ix in range({ix0}, ({ix1})+1)])) AS cell
FROM ext"""

    # gazetteer arithmetic mirrors gmx.geometry.gazetteer.place_gazetteer
    # (half-degree units); keywords per doc: 'Place i%7' and 'Region i%5'
    kx0, kx1 = _IX.format(v="kwh"), _IX.format(v="keh")
    ky0, ky1 = _IY.format(v="ksh"), _IY.format(v="knh")
    o["spatial_place_keyword_cells"] = f"""
WITH kw AS (
  SELECT printf('doc-%08d', doc_id) AS did,
         'Place ' || (doc_id%7) AS keyword,
         -320+(doc_id%7)*80 AS kwh, -160+(doc_id%7)*40 AS ksh,
         -320+(doc_id%7)*80+40 AS keh, -160+(doc_id%7)*40+20 AS knh
  FROM documents
  UNION ALL
  SELECT printf('doc-%08d', doc_id),
         'Region ' || (doc_id%5),
         -300+(doc_id%5)*120, -100+(doc_id%5)*40,
         -300+(doc_id%5)*120+60, -100+(doc_id%5)*40+24
  FROM documents)
SELECT did AS doc_id, keyword,
       UNNEST(flatten([[{_cell('ix', 'iy')} for iy in range({ky0}, ({ky1})+1)]
                       for ix in range({kx0}, ({kx1})+1)])) AS cell
FROM kw"""

    o["spatial_cell_histogram"] = f"""
WITH {EXT}, cov AS (
  SELECT did,
         UNNEST(flatten([[{_cell('ix', 'iy')} for iy in range({iy0}, ({iy1})+1)]
                         for ix in range({ix0}, ({ix1})+1)])) AS cell
  FROM ext)
SELECT cell, COUNT(*) AS n_docs FROM cov GROUP BY cell"""

    o["spatial_bbox_overlap_join"] = f"""
WITH {EXT}
SELECT a.did AS a_id, b.did AS b_id
FROM ext a JOIN ext b
  ON a.i < b.i AND a.wh <= b.eh AND b.wh <= a.eh AND a.sh <= b.nh AND b.sh <= a.nh"""

    o["spatial_point_in_bbox"] = f"""
WITH {EXT}, {PTS}
SELECT p.point_id, e.did AS doc_id
FROM pts p JOIN ext e
  ON e.wh <= p.xh AND p.xh <= e.eh AND e.sh <= p.yh AND p.yh <= e.nh"""

    o["spatial_knn"] = f"""
WITH {EXT}, {PTS}
SELECT point_id, rank, doc_id FROM (
  SELECT p.point_id, e.did AS doc_id,
         row_number() OVER (
           PARTITION BY p.point_id
           ORDER BY (2*p.xh - (e.wh+e.eh))*(2*p.xh - (e.wh+e.eh))
                  + (2*p.yh - (e.sh+e.nh))*(2*p.yh - (e.sh+e.nh)) ASC,
                    e.did ASC) AS rank
  FROM pts p CROSS JOIN ext e
) WHERE rank <= 5"""

    # the bucketed-index serving paths compute the SAME joins — same twins
    o["spatial_bbox_overlap_indexed"] = o["spatial_bbox_overlap_join"]
    o["spatial_point_in_bbox_indexed"] = o["spatial_point_in_bbox"]
    o["spatial_knn_indexed"] = o["spatial_knn"]

    # tile footprints in quarter-degrees so everything stays integral
    o["spatial_raster_tile_join"] = f"""
WITH {EXT},
tiles AS (
  SELECT printf('t{Z}-%d-%d', x, y) AS tile_id,
         -720 + x*{1440 // NX} AS twq, -720 + (x+1)*{1440 // NX} AS teq,
         -360 + y*{720 // NX} AS tsq, -360 + (y+1)*{720 // NX} AS tnq
  FROM (SELECT UNNEST(range(0, {NX})) AS x), (SELECT UNNEST(range(0, {NX})) AS y)
)
SELECT t.tile_id, e.did AS doc_id
FROM tiles t JOIN ext e
  ON t.twq <= 2*e.eh AND 2*e.wh <= t.teq AND t.tsq <= 2*e.nh AND 2*e.sh <= t.tnq"""

    o["spatial_tile_join_indexed"] = o["spatial_raster_tile_join"]

    o["dedup_exact"] = """
SELECT md5(text) AS text_md5, count(*) AS n_docs, min(doc_id) AS min_doc_id
FROM documents GROUP BY 1"""

    o["text_token_count"] = """
SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens FROM documents"""

    # BPE-ish pre-tokenizer classes: leftmost non-overlapping matches are
    # identical between Java regex (Spark regexp_count) and DuckDB RE2
    o["text_token_count_regex"] = """
SELECT doc_id,
       CAST(len(regexp_extract_all(text, '[A-Za-z]+')) AS BIGINT) AS n_word_pieces,
       CAST(len(regexp_extract_all(text, '[0-9]+')) AS BIGINT) AS n_number_pieces,
       CAST(len(regexp_extract_all(text, '[^A-Za-z0-9 ]')) AS BIGINT) AS n_punct_pieces,
       CAST(len(regexp_extract_all(text, '[A-Za-z]+'))
            + len(regexp_extract_all(text, '[0-9]+'))
            + len(regexp_extract_all(text, '[^A-Za-z0-9 ]')) AS BIGINT) AS n_pieces
FROM documents"""

    # decontamination: same _shingles construction as the dedup twins; the
    # eval slice is doc_id % 20 == 0, training docs are the rest
    o["text_decontaminate"] = """
WITH w AS (SELECT doc_id, string_split(text, ' ') AS words FROM documents),
s AS (
  SELECT doc_id,
         CASE WHEN len(words) >= 3
              THEN list_distinct([array_to_string(words[i:i+2], ' ')
                                  for i in range(1, len(words)-1)])
              ELSE [array_to_string(words, ' ')] END AS sh
  FROM w),
ev AS (SELECT DISTINCT UNNEST(sh) AS g FROM s WHERE doc_id % 20 = 0),
tr AS (SELECT doc_id, UNNEST(sh) AS g FROM s WHERE doc_id % 20 <> 0),
hits AS (
  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_hits
  FROM tr JOIN ev USING (g) GROUP BY doc_id)
SELECT t.doc_id,
       CAST(COALESCE(h.n_hits, 0) AS BIGINT) AS n_hits,
       CAST(COALESCE(h.n_hits, 0) > 0 AS BIGINT) AS contaminated
FROM (SELECT doc_id FROM documents WHERE doc_id % 20 <> 0) t
LEFT JOIN hits h USING (doc_id)"""

    # repetition filters: the naive per-bigram GROUP BY recomputation of the
    # Spark side's shuffle-free sorted-run-length pass (same numbers, wholly
    # different algorithm).  FLOOR is explicit: DuckDB CAST(double AS
    # BIGINT) rounds to nearest, Spark's cast truncates.
    o["text_repetition"] = """
WITH toks AS (
  SELECT doc_id, string_split(text, ' ') AS t FROM documents
), bg AS (
  SELECT doc_id, t[CAST(i AS BIGINT)] || ' ' || t[CAST(i AS BIGINT) + 1] AS bigram
  FROM toks, UNNEST(range(1, len(t))) AS r(i)
), counts AS (
  SELECT doc_id, bigram, COUNT(*) AS c FROM bg GROUP BY doc_id, bigram
), agg AS (
  SELECT doc_id,
         CAST(SUM(c) AS BIGINT) AS n_bigrams,
         CAST(FLOOR(MAX(c) * 1000 / SUM(c)) AS BIGINT) AS top_bigram_per_mille,
         CAST(FLOOR(SUM(CASE WHEN c > 1 THEN c ELSE 0 END) * 1000 / SUM(c)) AS BIGINT)
             AS dup_bigram_per_mille
  FROM counts GROUP BY doc_id
)
SELECT d.doc_id,
       COALESCE(a.n_bigrams, 0) AS n_bigrams,
       COALESCE(a.top_bigram_per_mille, 0) AS top_bigram_per_mille,
       COALESCE(a.dup_bigram_per_mille, 0) AS dup_bigram_per_mille
FROM documents d LEFT JOIN agg a USING (doc_id)"""

    o["text_quality"] = """
SELECT doc_id,
       CAST(length(text) AS BIGINT) AS n_chars,
       CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
       CAST(len(list_distinct(string_split(text, ' ')))*1000
            // len(string_split(text, ' ')) AS BIGINT) AS distinct_per_mille
FROM documents"""

    markers = {
        "en": ("the", "and", "of", "to", "in"),
        "es": ("el", "la", "de", "que", "los"),
        "de": ("der", "und", "die", "das", "nicht"),
        "fr": ("le", "la", "et", "les", "des"),
    }
    score_exprs = ", ".join(
        f"len(list_filter(string_split(text, ' '), x -> x IN ({', '.join(repr(m) for m in ms)}))) AS s_{lang}"
        for lang, ms in markers.items()
    )
    o["text_lang_id"] = f"""
WITH scored AS (SELECT doc_id, {score_exprs} FROM documents),
best AS (SELECT *, greatest(s_en, s_es, s_de, s_fr) AS b FROM scored)
SELECT doc_id,
       CASE WHEN b = 0 THEN 'und'
            WHEN s_en = b THEN 'en'
            WHEN s_es = b THEN 'es'
            WHEN s_de = b THEN 'de'
            ELSE 'fr' END AS lang_guess
FROM best"""

    # polynomial rolling hash over unicode codepoints, base 1000003 mod 2^40 —
    # pure integer arithmetic, so it reproduces the Spark aggregate exactly
    o["text_fingerprint"] = """
SELECT doc_id,
       CASE WHEN length(text) = 0 THEN 0
            ELSE list_reduce(
              list_prepend(0::BIGINT,
                list_transform(regexp_split_to_array(text, ''),
                               c -> unicode(c)::BIGINT)),
              (acc, x) -> (acc * 1000003 + x) % 1099511627776)
       END AS fingerprint
FROM documents"""

    # mirrors ngram_jaccard_pairs exactly INCLUDING the df_cap=10000 stop-
    # shingle prune (candidates only from shingles with document frequency
    # <= cap; verify still uses the full arrays) — ADVICE r2: engine and
    # oracle must prune identically or a corpus crossing the cap diverges
    o["dedup_ngram_jaccard"] = """
WITH w AS (SELECT doc_id, string_split(text, ' ') AS words FROM documents),
s AS (
  SELECT doc_id,
         CASE WHEN len(words) >= 3
              THEN list_distinct([array_to_string(words[i:i+2], ' ')
                                  for i in range(1, len(words)-1)])
              ELSE [array_to_string(words, ' ')] END AS sh
  FROM w),
e AS (SELECT doc_id, UNNEST(sh) AS g FROM s),
hot AS (SELECT g FROM e GROUP BY g HAVING count(*) > 10000),
ep AS (SELECT doc_id, g FROM e ANTI JOIN hot USING (g)),
cand AS (
  SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
  FROM ep a JOIN ep b ON a.g = b.g AND a.doc_id < b.doc_id),
v AS (
  SELECT a_id, b_id, len(sa.sh) AS na, len(sb.sh) AS nb,
         len(list_intersect(sa.sh, sb.sh)) AS inter
  FROM cand JOIN s sa ON sa.doc_id = a_id JOIN s sb ON sb.doc_id = b_id)
SELECT a_id, b_id, CAST(inter*1000 // (na+nb-inter) AS BIGINT) AS jaccard_per_mille
FROM v WHERE inter*1000 // (na+nb-inter) >= 100"""

    # full MinHash-LSH dataflow: shingles -> xxhash64 mod 2^31-1 -> 16
    # permuted minhashes -> 4 band keys xxhash64(b, 4 minhashes) ->
    # candidates sharing any band -> exact Jaccard verify — mirrors
    # minhash_pairs.  The CTE chain is shared with dedup_clusters (which
    # clusters the same pair set).
    band_keys_mh = ", ".join(
        xxhash64_sql((str(b), "int"), *[(f"sg[{4 * b + r + 1}]", "long") for r in range(4)])
        for b in range(4)
    )
    minhash_cte = f"""w AS (SELECT doc_id, string_split(text,' ') AS words FROM documents),
s AS (SELECT doc_id,
        CASE WHEN len(words)>=3
             THEN list_distinct([array_to_string(words[i:i+2],' ') for i in range(1,len(words)-1)])
             ELSE [array_to_string(words,' ')] END AS sh
      FROM w),
h AS MATERIALIZED (SELECT doc_id, sh,
        [(x + 2147483647) % 2147483647
         for x in [({xxhash64_sql(("g", "string"))}) % 2147483647 for g in sh]] AS hs
      FROM s),
sig AS (SELECT doc_id, sh,
        [list_min([(h*(2*i+1)+7*i+3) % 2147483647 for h in hs]) for i in range(0,16)] AS sg
      FROM h),
bk AS (SELECT doc_id, sh, UNNEST([{band_keys_mh}]) AS key FROM sig),
cand AS (SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id, a.sh AS sa, b.sh AS sb
         FROM bk a JOIN bk b ON a.key = b.key AND a.doc_id < b.doc_id)"""

    o["dedup_minhash_lsh"] = f"""
WITH {minhash_cte}
SELECT a_id, b_id,
       CAST(len(list_intersect(sa,sb))*1000 // (len(sa)+len(sb)-len(list_intersect(sa,sb))) AS BIGINT)
         AS jaccard_per_mille
FROM cand
WHERE len(list_intersect(sa,sb))*1000 // (len(sa)+len(sb)-len(list_intersect(sa,sb))) >= 100"""

    # dedup_clusters twin: same pair set, components via recursive-CTE
    # transitive closure, representative = lexicographic min of the
    # component (matches min-label propagation exactly at convergence)
    o["dedup_clusters"] = f"""
WITH RECURSIVE {minhash_cte},
p AS MATERIALIZED (SELECT a_id, b_id FROM cand
      WHERE len(list_intersect(sa,sb))*1000 // (len(sa)+len(sb)-len(list_intersect(sa,sb))) >= 100),
eg AS (SELECT a_id AS src, b_id AS dst FROM p
       UNION SELECT b_id, a_id FROM p),
reach(src, dst) AS (
  SELECT src, dst FROM eg
  UNION
  SELECT r.src, e2.dst FROM reach r JOIN eg e2 ON r.dst = e2.src)
SELECT src AS doc_id, least(src, min(dst)) AS cluster_rep
FROM reach GROUP BY src"""

    # the star-mode loop body computes the SAME components — same twin
    o["dedup_clusters_star"] = o["dedup_clusters"]

    o["sample_stratified"] = f"""
WITH scored AS (SELECT doc_id, {score_exprs} FROM documents),
best AS (SELECT *, greatest(s_en, s_es, s_de, s_fr) AS b FROM scored),
lang AS (
  SELECT doc_id,
         CASE WHEN b = 0 THEN 'und'
              WHEN s_en = b THEN 'en'
              WHEN s_es = b THEN 'es'
              WHEN s_de = b THEN 'de'
              ELSE 'fr' END AS lang_guess
  FROM best),
k AS (
  SELECT doc_id, lang_guess,
         list_reduce(list_prepend(0::BIGINT,
             list_transform(regexp_split_to_array(CAST(doc_id AS VARCHAR),''),
                            c -> unicode(c)::BIGINT)),
             (a,x) -> (a*1000003+x) % 2147483647) % 1000 AS sample_bucket
  FROM lang)
SELECT doc_id, lang_guess, CAST(sample_bucket AS BIGINT) AS sample_bucket
FROM k WHERE sample_bucket < CASE WHEN lang_guess = 'en' THEN 500 ELSE 100 END"""

    # 64-bit SimHash: bit b is the sign of the per-token votes on bit b of
    # the token's xxhash64; bucket = top 16 bits (computed from the per-bit
    # signs to avoid unsigned-shift semantics differences)
    def bit_vote(b: int) -> str:
        return f"list_sum([CASE WHEN (x >> {b}) & 1 = 1 THEN 1 ELSE -1 END for x in hs]) > 0"

    bit_terms = " + ".join(
        f"(CASE WHEN {bit_vote(b)} THEN "
        + (f"{1 << b}::BIGINT" if b < 63 else "(-9223372036854775807 - 1)")
        + " ELSE 0 END)"
        for b in range(64)
    )
    bucket_terms = " + ".join(
        f"(CASE WHEN {bit_vote(b)} THEN {1 << (b - 48)}::BIGINT ELSE 0 END)"
        for b in range(48, 64)
    )
    simhash_h_cte = f"""t AS (SELECT doc_id, string_split(text,' ') AS toks FROM documents),
h AS MATERIALIZED (SELECT doc_id, [{xxhash64_sql(("tk", "string"))} for tk in toks] AS hs FROM t)"""
    o["dedup_simhash"] = f"""
WITH {simhash_h_cte}
SELECT doc_id, {bit_terms} AS simhash, {bucket_terms} AS bucket FROM h"""

    # simhash PAIRS twin: same simhash, four band-tagged 16-bit keys
    # ((x >> s) & 65535 extracts the unsigned band under DuckDB's arithmetic
    # shift — the mask discards the sign fill), exact popcount verify
    band_exprs = ", ".join(
        f"({b}*65536 + ((simhash >> {16 * b}) & 65535))" for b in range(4)
    )
    o["dedup_simhash_pairs"] = f"""
WITH {simhash_h_cte},
s AS (SELECT doc_id, {bit_terms} AS simhash FROM h),
bk AS (SELECT doc_id, simhash, UNNEST([{band_exprs}]) AS key FROM s),
cand AS (SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id,
                a.simhash AS sa, b.simhash AS sb
         FROM bk a JOIN bk b ON a.key = b.key AND a.doc_id < b.doc_id)
SELECT a_id, b_id, CAST(bit_count(xor(sa, sb)) AS BIGINT) AS hamming
FROM cand WHERE bit_count(xor(sa, sb)) <= 3"""

    o["dedup_embedding_cosine"] = """
WITH q AS (
  SELECT vec_id,
         [CAST(floor(CAST(embedding[i] AS DOUBLE)*1000 + 0.5) AS BIGINT)
          for i in range(1, len(embedding)+1)] AS v
  FROM embeddings),
n AS (SELECT vec_id, v, CAST(list_sum([x*x for x in v]) AS BIGINT) AS nrm FROM q),
p AS (
  SELECT a.vec_id AS a_id, b.vec_id AS b_id,
         CAST(list_sum([a.v[i]*b.v[i] for i in range(1, len(a.v)+1)]) AS BIGINT) AS dot,
         a.nrm AS na, b.nrm AS nb
  FROM n a JOIN n b ON a.vec_id < b.vec_id)
SELECT a_id, b_id FROM p
WHERE dot > 0 AND 10000*dot*dot >= 1225*na*nb"""

    o["ann_cosine_topk"] = """
WITH q AS (
  SELECT vec_id,
         [CAST(floor(CAST(embedding[i] AS DOUBLE)*1000 + 0.5) AS BIGINT)
          for i in range(1, len(embedding)+1)] AS v
  FROM embeddings),
n AS (SELECT vec_id, v, CAST(list_sum([x*x for x in v]) AS BIGINT) AS nrm FROM q),
p AS (
  SELECT a.vec_id AS qid, b.vec_id AS nid,
         CAST(list_sum([a.v[i]*b.v[i] for i in range(1, len(a.v)+1)]) AS BIGINT) AS dot,
         a.nrm AS qn, b.nrm AS nn
  FROM n a JOIN n b ON a.vec_id % 100 = 0 AND b.vec_id <> a.vec_id)
SELECT qid AS query_id, rank, nid AS neighbor_id FROM (
  SELECT qid, nid,
         row_number() OVER (
           PARTITION BY qid
           ORDER BY CAST(dot AS DOUBLE)/sqrt(CAST(qn*nn AS DOUBLE)) DESC, nid ASC) AS rank
  FROM p) WHERE rank <= 5"""

    # ann_lsh_topk twin: 24 bands x 4 sign bits, plane p's sign on 0-based
    # dimension i = parity of xxhash64(p::INT, i::INT) (planes CTE, built once);
    # candidates share any band key, exact integer scoring, (score desc, nid)
    # ranking
    def lsh_ctes(bands: int, bits: int) -> str:
        sign = f"CASE WHEN {xxhash64_sql(('p', 'int'), ('i', 'int'))} % 2 = 0 THEN 1 ELSE -1 END"
        keys = ", ".join(
            f"({b << bits} + " + " + ".join(
                f"(CASE WHEN d[{b * bits + r + 1}] > 0 THEN {1 << r} ELSE 0 END)"
                for r in range(bits)
            ) + ")::BIGINT"
            for b in range(bands)
        )
        return f"""q AS (
  SELECT vec_id,
         [CAST(floor(CAST(embedding[i] AS DOUBLE)*1000 + 0.5) AS BIGINT)
          for i in range(1, len(embedding)+1)] AS v
  FROM embeddings),
n AS (SELECT vec_id, v, CAST(list_sum([x*x for x in v]) AS BIGINT) AS nrm FROM q),
planes AS (
  SELECT list(sg ORDER BY p) AS sgs FROM (
    SELECT p, list({sign} ORDER BY i) AS sg
    FROM (SELECT range::INT AS p FROM range({bands * bits})),
         (SELECT unnest(range(dim))::INT AS i FROM (SELECT max(len(v)) AS dim FROM n))
    GROUP BY p)),
pk AS (
  SELECT vec_id, v, nrm, UNNEST([{keys}]) AS key
  FROM (SELECT vec_id, v, nrm,
               [list_sum([v[i]*sg[i] for i in range(1, len(v)+1)]) for sg in sgs] AS d
        FROM n, planes))"""

    o["ann_lsh_topk"] = f"""
WITH {lsh_ctes(24, 4)},
cand AS (
  SELECT DISTINCT a.vec_id AS qid, b.vec_id AS nid
  FROM pk a JOIN pk b ON a.key = b.key AND a.vec_id % 100 = 0 AND b.vec_id <> a.vec_id),
scored AS (
  SELECT c.qid, c.nid,
         row_number() OVER (
           PARTITION BY c.qid
           ORDER BY CAST(list_sum([qn.v[i]*nn.v[i] for i in range(1, len(qn.v)+1)]) AS DOUBLE)
                    / sqrt(CAST(qn.nrm*nn.nrm AS DOUBLE)) DESC, c.nid ASC) AS rank
  FROM cand c JOIN n qn ON qn.vec_id = c.qid JOIN n nn ON nn.vec_id = c.nid)
SELECT qid AS query_id, rank, nid AS neighbor_id FROM scored WHERE rank <= 5"""

    # embedding_near_dup_lsh twin: the same plane family at 8 bands x 8 sign
    # bits (key = band*256 + bits, plane index = band*8 + bit), candidates
    # share any band key, then the SAME exact integer predicate as the
    # grid-exact path (threshold 0.35 -> 1225) — no false positives ever
    o["dedup_embedding_lsh"] = f"""
WITH {lsh_ctes(8, 8)},
cand AS (
  SELECT DISTINCT a.vec_id AS a_id, b.vec_id AS b_id
  FROM pk a JOIN pk b ON a.key = b.key AND a.vec_id < b.vec_id),
p AS (
  SELECT c.a_id, c.b_id,
         CAST(list_sum([x.v[i]*y.v[i] for i in range(1, len(x.v)+1)]) AS BIGINT) AS dot,
         x.nrm AS na, y.nrm AS nb
  FROM cand c JOIN n x ON x.vec_id = c.a_id JOIN n y ON y.vec_id = c.b_id)
SELECT a_id, b_id FROM p
WHERE dot > 0 AND 10000*dot*dot >= 1225*na*nb"""

    # ann_ivf_topk twin (train_iters=1): stride-sampled seed centroids
    # (vec_id % 37, first 16 by id), then ONE exact-integer Lloyd iteration:
    # nearest list by the monotone image of cosine sign(dot)*dot^2/|c|^2
    # over QUANTIZED integers (one IEEE divide, ties on centroid index);
    # per-(list, dim) SUM/COUNT are exact BIGINTs and each trained
    # coordinate is floor(double(sum)/count + 0.5) — bit-identical to the
    # Spark driver's float(s)/float(c) computation; empty lists keep their
    # seed.  Final assignment/probing/scoring over the trained centroids —
    # mirrors similarity.ann_ivf_topk
    o["ann_ivf_topk"] = _ivf_twin_sql(train_iters=1)

    return o
