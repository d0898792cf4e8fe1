"""Closed-form coordinate conversions the benchmark checks the engine against.

Written from the published definitions, not from the engine's own
CrsTransform, so a fault in the engine's reprojection cannot hide in the
check:

* EPSG:3857 — spherical (Web) Mercator on a sphere of radius 6378137 m.
* EPSG:27700 — WGS84 → OSGB36 by the Ordnance Survey 7-parameter Helmert
  transform (quoted accuracy a few metres), then the OS National Grid
  transverse Mercator on the Airy 1830 ellipsoid ("A guide to coordinate
  systems in Great Britain", Ordnance Survey, annexes B and C).
"""
import numpy as np

R_MERC = 6378137.0


def lonlat_to_3857(lon, lat):
    x = R_MERC * np.radians(lon)
    y = R_MERC * np.log(np.tan(np.pi / 4 + np.radians(lat) / 2))
    return x, y


def lonlat_from_3857(x, y):
    lon = np.degrees(x / R_MERC)
    lat = np.degrees(2 * np.arctan(np.exp(y / R_MERC)) - np.pi / 2)
    return lon, lat


# ellipsoids: (semi-major a, semi-minor b)
WGS84 = (6378137.000, 6356752.314245)
AIRY1830 = (6377563.396, 6356256.909)

# WGS84 → OSGB36 Helmert: translations (m), scale (ppm), rotations (arc-seconds)
HELMERT = dict(tx=-446.448, ty=125.157, tz=-542.060, s=20.4894,
               rx=-0.1502, ry=-0.2470, rz=-0.8421)

# National Grid projection constants
F0 = 0.9996012717
LAT0 = np.radians(49.0)
LON0 = np.radians(-2.0)
N0 = -100000.0
E0 = 400000.0


def _to_ecef(lat, lon, ell):
    a, b = ell
    e2 = 1 - (b * b) / (a * a)
    nu = a / np.sqrt(1 - e2 * np.sin(lat) ** 2)
    return (nu * np.cos(lat) * np.cos(lon),
            nu * np.cos(lat) * np.sin(lon),
            (1 - e2) * nu * np.sin(lat))


def _from_ecef(x, y, z, ell):
    a, b = ell
    e2 = 1 - (b * b) / (a * a)
    p = np.sqrt(x * x + y * y)
    lat = np.arctan2(z, p * (1 - e2))
    for _ in range(8):
        nu = a / np.sqrt(1 - e2 * np.sin(lat) ** 2)
        lat = np.arctan2(z + e2 * nu * np.sin(lat), p)
    return lat, np.arctan2(y, x)


def _helmert(x, y, z, h):
    s = h["s"] * 1e-6
    sec = np.pi / (180 * 3600)
    rx, ry, rz = h["rx"] * sec, h["ry"] * sec, h["rz"] * sec
    return (h["tx"] + (1 + s) * x - rz * y + ry * z,
            h["ty"] + rz * x + (1 + s) * y - rx * z,
            h["tz"] - ry * x + rx * y + (1 + s) * z)


def _meridional_arc(lat, a, b):
    n = (a - b) / (a + b)
    n2, n3 = n * n, n * n * n
    dl, sl = lat - LAT0, lat + LAT0
    return b * F0 * (
        (1 + n + 1.25 * n2 + 1.25 * n3) * dl
        - (3 * n + 3 * n2 + 2.625 * n3) * np.sin(dl) * np.cos(sl)
        + (1.875 * n2 + 1.875 * n3) * np.sin(2 * dl) * np.cos(2 * sl)
        - (35 / 24) * n3 * np.sin(3 * dl) * np.cos(3 * sl))


def lonlat_to_27700(lon, lat):
    """WGS84 degrees → British National Grid easting/northing (m)."""
    x, y, z = _to_ecef(np.radians(lat), np.radians(lon), WGS84)
    x, y, z = _helmert(x, y, z, HELMERT)
    phi, lam = _from_ecef(x, y, z, AIRY1830)
    a, b = AIRY1830
    e2 = 1 - (b * b) / (a * a)
    sin, cos, tan = np.sin(phi), np.cos(phi), np.tan(phi)
    nu = a * F0 / np.sqrt(1 - e2 * sin ** 2)
    rho = a * F0 * (1 - e2) / (1 - e2 * sin ** 2) ** 1.5
    eta2 = nu / rho - 1
    m = _meridional_arc(phi, a, b)
    i = m + N0
    ii = nu / 2 * sin * cos
    iii = nu / 24 * sin * cos ** 3 * (5 - tan ** 2 + 9 * eta2)
    iiia = nu / 720 * sin * cos ** 5 * (61 - 58 * tan ** 2 + tan ** 4)
    iv = nu * cos
    v = nu / 6 * cos ** 3 * (nu / rho - tan ** 2)
    vi = nu / 120 * cos ** 5 * (5 - 18 * tan ** 2 + tan ** 4 + 14 * eta2
                                - 58 * tan ** 2 * eta2)
    dl = lam - LON0
    north = i + ii * dl ** 2 + iii * dl ** 4 + iiia * dl ** 6
    east = E0 + iv * dl + v * dl ** 3 + vi * dl ** 5
    return east, north


def ground_distance_m(lon1, lat1, lon2, lat2):
    """Equirectangular distance in metres — exact enough at metre scale."""
    k = np.pi / 180 * 6371008.8
    dx = (lon2 - lon1) * np.cos(np.radians((lat1 + lat2) / 2))
    return k * np.sqrt(dx * dx + (lat2 - lat1) ** 2)
