"""Distance/area/interval parameter parsing + conversion.

Port of /root/reference/src/geom/mapshaper-units.js: unit alias table
(UNITS_LOOKUP :3-13), meter factors (TO_METERS :16-21, the pj_units values),
and the conversion-factor rules of getIntervalConversionFactor (:27-61):
latlong CRS computes in meters (factor 1); projected CRS divides by
to_meter; unitless params on unknown CRS pass through; unit-suffixed params
on unknown CRS are an error.
"""

from __future__ import annotations

import re

UNITS_LOOKUP = {
    "m": "meters", "meter": "meters", "meters": "meters",
    "mi": "miles", "mile": "miles", "miles": "miles",
    "km": "kilometers",
    "ft": "feet", "feet": "feet",
}

TO_METERS = {
    "meters": 1.0,
    "kilometers": 1000.0,
    "feet": 0.3048,        # International Standard Foot
    "miles": 1609.344,     # International Statute Mile
}

_UNITS_RE = re.compile(r"(sq|)([a-z]+)(2|)$", re.I)


def parse_measure_full(param) -> dict:
    """internal.parseMeasure (mapshaper-units.js:63-85): '5km' ->
    {'value': 5, 'units': 'kilometers', 'areal': False}; areal spellings
    'sqkm' / 'km2' set areal=True; a bare number has no units key."""
    o: dict = {}
    s = param if isinstance(param, str) else ""
    m = _UNITS_RE.search(s)
    if isinstance(param, (int, float)) and not isinstance(param, bool):
        o["value"] = float(param)
    elif s == "":
        o["value"] = float("nan")
    elif m:
        units = UNITS_LOOKUP.get(m.group(2).lower())
        if units is None:
            raise ValueError(f"Unknown units: {m.group(0)}")
        o["units"] = units
        o["areal"] = bool(m.group(1) or m.group(3))
        try:
            o["value"] = float(s[: len(s) - len(m.group(0))])
        except ValueError:
            o["value"] = float("nan")
    else:
        try:
            o["value"] = float(s)
        except ValueError:
            o["value"] = float("nan")
    if o["value"] != o["value"]:  # NaN
        raise ValueError(f"Invalid parameter: {param}")
    return o


def parse_measure(param) -> tuple[float, str | None]:
    """'0.5km' -> (0.5, 'kilometers'); 3 -> (3.0, None)."""
    o = parse_measure_full(param)
    return o["value"], o.get("units")


def interval_conversion_factor(param_units: str | None, crs: str | None) -> float:
    """getIntervalConversionFactor semantics. ``crs``: 'wgs84'/'latlong' (1),
    a projected CRS assumed meters ('webmercator' -> to_meter 1), or None
    (unknown)."""
    from_param = TO_METERS[param_units] if param_units else 0.0
    if crs in ("wgs84", "latlong", "EPSG:4326"):
        from_crs = 1.0
    elif crs in ("webmercator", "merc", "EPSG:3857"):
        from_crs = 1.0
    elif crs is None:
        from_crs = 0.0
    else:
        raise ValueError(f"unknown crs {crs}")
    if from_param and from_crs:
        return from_param / from_crs
    if not from_param and not from_crs:
        return 1.0
    if from_param and not from_crs:
        raise ValueError(f"unable to convert {param_units} to unknown coordinates")
    return 1.0 / from_crs


def convert_distance_param(param, crs: str | None) -> float:
    """convertDistanceParam (mapshaper-units.js:93): '0.5km' on wgs84 ->
    500; an areal spelling ('5km2') is an error."""
    o = parse_measure_full(param)
    if o.get("areal"):
        raise ValueError(f"Expected a distance, received an area: {param}")
    return o["value"] * interval_conversion_factor(o.get("units"), crs)


def convert_area_param(param, crs: str | None) -> float:
    """convertAreaParam (mapshaper-units.js:87): factor applies squared."""
    value, units = parse_measure(param)
    k = interval_conversion_factor(units, crs)
    return value * k * k
