"""Portable SQL fragment generators — the oracle-parity backbone.

Every deterministic derivation the engine does natively (geocode, tile
assignment, quadkey, token counts, ...) is defined ONCE here as a SQL
fragment that parses and evaluates identically in Spark SQL and DuckDB.
The Spark queries evaluate these via ``F.expr(fragment)`` (JVM-side,
whole-stage codegen — no Python in the hot path) and the DuckDB oracles
embed the same text, so Spark-vs-oracle parity holds by construction.

Portability rules baked in (differences between the two dialects):
- never CAST float->int directly (DuckDB rounds, Spark truncates):
  always ``CAST(FLOOR(x) AS BIGINT)`` / ``CAST(CEILING(x) AS BIGINT)``;
- integer division via FLOOR(a / b) on exact doubles, not ``//``/``div``;
- string casts via ``concat`` implicit casting is NOT portable — use
  explicit CAST(... AS STRING/VARCHAR) through :func:`cast_str`;
- all hash-like derivations are pure int64 multiply/mod arithmetic
  (DuckDB 1.0 has no xxhash64), positive operands only so ``%`` agrees.

The tile math mirrors the kernel ports in ``kernels/mercator.py`` —
including the gdal2tiles ``ceil(q)-1`` boundary convention
(``/root/reference/swig/python/gdal-utils/osgeo_utils/gdal2tiles.py:461``)
so SQL, numpy, and the reference agree even for points exactly on tile
boundaries (which our half-millidegree fixture grid can hit on the x axis).
"""

from __future__ import annotations

SPARK = "spark"
DUCKDB = "duckdb"


def cast_str(expr: str, dialect: str) -> str:
    t = "STRING" if dialect == SPARK else "VARCHAR"
    return f"CAST({expr} AS {t})"



def D(x) -> str:
    """Float literal forced to DOUBLE via a QUOTED string: bare numeric
    literals parse as DECIMAL in both engines, and DuckDB's
    decimal->double conversion loses the last ulp on 17-significant-
    digit constants (observed on fitted GCP coefficients:
    12.499999999999973 arrived as ...972). String->double parsing is
    correctly rounded in both engines; CAST constant-folds either way."""
    return f"CAST('{x!r}' AS DOUBLE)"

# --- deterministic geocode (pages are geocoded from doc_id) ---------------
# Pure int64 arithmetic; 5% of docs (doc_id % 20 = 0) land in a hot cell
# around Paris to exercise skew handling (FIXTURES.md §1).

HOT_MOD = 20
_M1 = 2654435761  # Knuth multiplicative hash constants
_M2 = 2246822519
_A2 = 3266489917
_P32 = 4294967296


def h1_sql(doc_id: str) -> str:
    return f"(({doc_id} * {_M1}) % {_P32})"


def h2_sql(doc_id: str) -> str:
    return f"((({doc_id} * {_M2}) + {_A2}) % {_P32})"


def lon_sql(doc_id: str) -> str:
    h1 = h1_sql(doc_id)
    return (
        f"(CASE WHEN {doc_id} % {HOT_MOD} = 0 "
        f"THEN {D(2.0)} + ({h1} % 500) / {D(1000.0)} "
        f"ELSE {D(-180.0)} + ({h1} % 360000) / {D(1000.0)} END)"
    )


def lat_sql(doc_id: str) -> str:
    h2 = h2_sql(doc_id)
    return (
        f"(CASE WHEN {doc_id} % {HOT_MOD} = 0 "
        f"THEN {D(48.5)} + ({h2} % 500) / {D(1000.0)} "
        f"ELSE {D(-85.0)} + ({h2} % 170000) / {D(1000.0)} END)"
    )


# --- tile assignment (XYZ/Google convention, gdal2tiles math) -------------


def tile_x_sql(lon: str, zoom: int) -> str:
    """Global tile x: ceil((lon+180)/360 * 2^z) - 1, clamped to [0, n-1].

    (lon+180)/360*n is exactly gdal2tiles' px/tile_size; ceil-1 pins the
    boundary convention (PixelsToTile, gdal2tiles.py:461).
    """
    n = 2**zoom
    q = f"(({lon} + {D(180.0)}) / {D(360.0)} * {n})"
    return f"LEAST({n - 1}, GREATEST(0, CAST(CEILING({q}) AS BIGINT) - 1))"


def merc_y_sql(lat: str) -> str:
    """ln(tan(radians(lat)) + 1/cos(radians(lat))) — mercator y in [-pi,pi]."""
    return f"LN(TAN(RADIANS({lat})) + {D(1.0)} / COS(RADIANS({lat})))"


def tile_y_sql(lat: str, zoom: int) -> str:
    """Global tile y (XYZ, origin top-left): n - ceil(yq), clamped.

    yq = (1 + merc/pi)/2 * n counts pixels from the bottom (TMS);
    ty_tms = ceil(yq)-1 per gdal2tiles, and gy = n-1-ty_tms = n-ceil(yq).
    """
    n = 2**zoom
    yq = f"(({D(1.0)} + {merc_y_sql(lat)} / PI()) / {D(2.0)} * {n})"
    return f"LEAST({n - 1}, GREATEST(0, {n} - CAST(CEILING({yq}) AS BIGINT)))"


def cell_key_sql(lon: str, lat: str, zoom: int) -> str:
    """Flat join key at a fixed zoom: gx * n + gy (no hierarchy needed for
    an equi-join at one level; Morton ids are used where hierarchy matters).
    """
    n = 2**zoom
    return f"({tile_x_sql(lon, zoom)} * {n} + {tile_y_sql(lat, zoom)})"


def quadkey_sql(gx: str, gy: str, zoom: int, dialect: str) -> str:
    """Quadkey string of an XYZ tile: digit_i = x_bit + 2*y_bit per level
    (gdal2tiles QuadTree:518). Bits extracted with exact-double FLOOR
    arithmetic for portability.
    """
    parts = []
    for i in range(zoom, 0, -1):
        p = 2 ** (i - 1)
        xb = f"(CAST(FLOOR({gx} / {D(float(p))}) AS BIGINT) % 2)"
        yb = f"(CAST(FLOOR({gy} / {D(float(p))}) AS BIGINT) % 2)"
        parts.append(cast_str(f"({xb} + 2 * {yb})", dialect))
    return f"CONCAT({', '.join(parts)})"


# --- pixel-level raster generators (synthetic fixture, FIXTURES.md §3) ----


def checksum_term_sql(val: str, flat_idx: str) -> str:
    """One pixel's contribution to the GDALChecksumImage sum:
    val % primes[flat_idx % 11] (gdalchecksum.cpp:54). SUM(...) % 65536 of
    these terms over a window equals the ported checksum for non-negative
    integer pixels."""
    primes = [7, 11, 13, 17, 19, 23, 29, 31, 37, 41, 43]
    whens = " ".join(
        f"WHEN {i} THEN {val} % {p}" for i, p in enumerate(primes)
    )
    return f"(CASE ({flat_idx} % 11) {whens} END)"


# --- pages-table derivation from the documents table ----------------------


def url_sql(doc_id: str, dialect: str) -> str:
    site = cast_str(f"({doc_id} % 1000)", dialect)
    did = cast_str(doc_id, dialect)
    return f"CONCAT('https://site', {site}, '.example/p/', {did})"


# --- text-analysis fragments (documents table) -----------------------------


def token_count_sql(text: str) -> str:
    """Whitespace token count by length arithmetic — exact in both engines:
    tokens = len - len(remove ' ') + 1 for non-empty trimmed text."""
    t = f"TRIM({text})"
    return (
        f"(CASE WHEN LENGTH({t}) = 0 THEN 0 "
        f"ELSE LENGTH({t}) - LENGTH(REPLACE({t}, ' ', '')) + 1 END)"
    )


def substring_count_sql(text: str, needle: str) -> str:
    """Occurrences of a literal substring via length arithmetic."""
    esc = needle.replace("'", "''")
    diff = f"(LENGTH({text}) - LENGTH(REPLACE({text}, '{esc}', '')))"
    return f"CAST(FLOOR({diff} / {D(float(len(needle)))}) AS BIGINT)"


# --- hexagonal cell binning (H3-style axial index, pointy-top) -----------
#
# Axial hex coords over the (lon, lat) plane with circumradius `size`
# degrees, cube-rounded to the nearest cell center (the standard
# cube-round: round all three cube coords, then repair the one with the
# largest rounding error so x+y+z == 0 holds). Every formula is emitted
# ONCE here and embedded verbatim in BOTH engines, so the doubles are
# bit-identical and FLOOR never straddles — the same discipline as the
# tile math above. sqrt(3)/3 is a fixed double literal; no
# transcendentals are evaluated at query time.

_HEX_SQRT3_3 = "0.5773502691896258"


def hex_qf_sql(lon: str, lat: str, size: float) -> str:
    return (
        f"((CAST({_HEX_SQRT3_3} AS DOUBLE) * {lon} - {lat} / {D(3.0)})"
        f" / {D(size)})"
    )


def hex_rf_sql(lat: str, size: float) -> str:
    return f"(({lat} * {D(2.0)} / {D(3.0)}) / {D(size)})"


def _hex_rounds(qf: str, rf: str):
    rx = f"FLOOR({qf} + {D(0.5)})"
    ry = f"FLOOR(- {qf} - {rf} + {D(0.5)})"
    rz = f"FLOOR({rf} + {D(0.5)})"
    dx = f"ABS({rx} - {qf})"
    dy = f"ABS({ry} - (- {qf} - {rf}))"
    dz = f"ABS({rz} - {rf})"
    return rx, ry, rz, dx, dy, dz


def hex_q_sql(qf: str, rf: str) -> str:
    rx, ry, rz, dx, dy, dz = _hex_rounds(qf, rf)
    return (
        f"CAST(CASE WHEN {dx} > {dy} AND {dx} > {dz} "
        f"THEN - {ry} - {rz} ELSE {rx} END AS BIGINT)"
    )


def hex_r_sql(qf: str, rf: str) -> str:
    rx, ry, rz, dx, dy, dz = _hex_rounds(qf, rf)
    return (
        f"CAST(CASE WHEN NOT ({dx} > {dy} AND {dx} > {dz}) "
        f"AND NOT ({dy} > {dz}) "
        f"THEN - {rx} - {ry} ELSE {rz} END AS BIGINT)"
    )


def px_lon_sql(gpx: str, zoom: int) -> str:
    """Global pixel center -> longitude (linear, exact)."""
    world = (1 << zoom) * 256
    return (
        f"({D(-180.0)} + {D(360.0)} * ({gpx} + {D(0.5)}) / {D(float(world))})"
    )


def px_lat_sql(gpy: str, zoom: int) -> str:
    """Global pixel center -> latitude: inverse XYZ mercator
    degrees(atan(sinh(m))), m = pi*(1 - 2*(gpy+0.5)/world). sinh is
    spelled (EXP(m) - EXP(-m))/2 because DuckDB has no SINH — the SAME
    spelling goes to both engines (merc_y_sql discipline)."""
    world = (1 << zoom) * 256
    m = (
        f"(PI() * ({D(1.0)} - {D(2.0)} * ({gpy} + {D(0.5)})"
        f" / {D(float(world))}))"
    )
    return f"DEGREES(ATAN((EXP({m}) - EXP(- {m})) / {D(2.0)}))"


def cubic_w_sql(t: str) -> str:
    """Catmull-Rom (a=-0.5) cubic kernel weight at offset ``t``
    (|t| < 2), the InterpolateAtPoint / warp cubic polynomial — only
    *,+,- on doubles, so Spark and DuckDB agree bit-for-bit when the
    SAME text is embedded on both sides."""
    a = f"ABS({t})"
    return (
        f"(CASE WHEN {a} <= {D(1.0)} THEN "
        f"(({D(1.5)} * {a} - {D(2.5)}) * {a} * {a} + {D(1.0)}) "
        f"WHEN {a} < {D(2.0)} THEN "
        f"((({D(-0.5)} * {a} + {D(2.5)}) * {a} - {D(4.0)}) * {a} "
        f"+ {D(2.0)}) ELSE {D(0.0)} END)"
    )


# --- georeferencing transform application (kernels/georef.py fits) -------
#
# The fit runs driver-side over the (tiny) control set; these fragments
# apply the fitted transform to the billion-row side natively, with the
# coefficient DOUBLES embedded as repr literals in BOTH engines so the
# outputs are bit-identical (left-to-right sum order throughout).


def _fold_sum(terms, dialect: str) -> str:
    """Reassociation-proof left-to-right sum: Spark's
    ReorderAssociativeOperator regroups plain ``a + b + c`` chains
    around foldable literals (1-ulp drift vs DuckDB), so the sum is an
    explicit sequential lambda fold on BOTH engines — the optimizer
    cannot reorder through a lambda.

    Cost note: higher-order functions evaluate interpreted (outside
    whole-stage codegen). This is the ORACLE-PARITY form; a
    throughput-critical production apply can use the plain + chain —
    identical semantics modulo 1-ulp association."""
    body = ", ".join(terms)
    if dialect == SPARK:
        return (f"aggregate(array({body}), {D(0.0)}, "
                f"(acc, t) -> acc + t)")
    return (f"list_reduce(list_prepend({D(0.0)}, [{body}]), "
            f"(acc, t) -> acc + t)")


def poly_apply_sql(x: str, y: str, coeffs, dialect: str) -> str:
    """gdal_crs polynomial basis order: 1, x, y [, x*y, x*x, y*y]."""
    terms = ["1", f"{x}", f"{y}", f"{x} * {y}", f"{x} * {x}", f"{y} * {y}"]
    parts = [f"{D(float(c))} * ({t})" for c, t in zip(coeffs, terms)]
    return _fold_sum(parts, dialect)


def rpc_poly_sql(L: str, P: str, H: str, coef, dialect: str) -> str:
    """RPC00B 20-term basis in the reference order
    (gdal_rpc.cpp:196-219), sequential fold."""
    t = [
        "1", L, P, H, f"{L}*{P}", f"{L}*{H}", f"{P}*{H}", f"{L}*{L}",
        f"{P}*{P}", f"{H}*{H}", f"{L}*{P}*{H}", f"{L}*{L}*{L}",
        f"{L}*{P}*{P}", f"{L}*{H}*{H}", f"{L}*{L}*{P}", f"{P}*{P}*{P}",
        f"{P}*{H}*{H}", f"{L}*{L}*{H}", f"{P}*{P}*{H}", f"{H}*{H}*{H}",
    ]
    parts = [f"{D(float(c))} * ({ti})" for c, ti in zip(coef, t)
             if float(c) != 0.0]
    return _fold_sum(parts or [D(0.0)], dialect)


def tps_apply_sql(x: str, y: str, params, controls, dialect: str) -> str:
    """TPS evaluation: a0 + a1 x + a2 y + sum w_i r2_i ln(r2_i); LN is
    the same libm-parity class as the mercator fragments."""
    parts = [f"{D(float(params[0]))}",
             f"{D(float(params[1]))} * ({x})",
             f"{D(float(params[2]))} * ({y})"]
    for (cx, cy, _u, _v), w in zip(controls, params[3:]):
        r2 = (f"(({x} - {D(float(cx))}) * ({x} - {D(float(cx))})"
              f" + ({y} - {D(float(cy))}) * ({y} - {D(float(cy))}))")
        parts.append(
            f"CASE WHEN {r2} > {D(0.0)} THEN "
            f"{D(float(w))} * ({r2} * LN({r2})) ELSE {D(0.0)} END"
        )
    return _fold_sum(parts, dialect)


def color_relief_sql(value: str, ramp, channel: int) -> str:
    """gdaldem color-relief channel expression (GDALColorRelief,
    apps/gdaldem_lib.cpp): piecewise-LINEAR interpolation between ramp
    entries [(elev, (r, g, b)), ...] sorted by elev; values below the
    first / above the last entry clamp to the end colors. Only
    +,-,*,/ on doubles — exact cross-engine."""
    parts = []
    first_e, first_c = ramp[0]
    last_e, last_c = ramp[-1]
    parts.append(f"WHEN {value} <= {D(float(first_e))} "
                 f"THEN {D(float(first_c[channel]))}")
    for (e0, c0), (e1, c1) in zip(ramp, ramp[1:]):
        lo, hi = float(e0), float(e1)
        a, b = float(c0[channel]), float(c1[channel])
        parts.append(
            f"WHEN {value} <= {D(hi)} THEN {D(a)} + ({value} - {D(lo)})"
            f" * ({D(b)} - {D(a)}) / ({D(hi)} - {D(lo)})"
        )
    parts.append(f"ELSE {D(float(last_c[channel]))}")
    return "(CASE " + " ".join(parts) + " END)"
