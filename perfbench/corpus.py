"""Seeded FITS corpus for the cube workloads.

Writes SDSS-shaped inputs for ``CubePipeline``: frame images (one primary
HDU of float32 pixels plus the header vocabulary the ingest reads),
spectra (primary header + a ``loglam/flux/ivar`` BINTABLE) and the
``gal_info``/``gal_sfr`` catalogs the SFR join reads. Every file draws from
its own ``numpy.random.Generator`` seeded by ``(seed, kind, index)``, so the
same seed gives a byte-identical corpus in any process and file order.

Geometry: fields sit on a grid 0.08 deg apart; each field is observed in the
five SDSS bands. About two thirds of the spectra sit at distinct positions
near a field centre; the rest repeat an earlier spectrum's position, so the
ML cube has multi-epoch targets. Every spectrum lies deep enough inside its
field's frames that all 64-px cutouts are whole.
"""

from __future__ import annotations

import dataclasses
import os

import numpy as np

BANDS = ("u", "g", "r", "i", "z")
FIELD_STEP_DEG = 0.08
PIX_SCALE_DEG = 0.0004
SPEC_LOGLAM = (3.5843, 3.9501)  # 10**x spans the 4620-sample rebin grid
CUTOUT = 64
MIN_SEPARATION_DEG = 0.01  # distinct targets never share a healpix cell

_KIND_IMAGE, _KIND_SPECTRUM, _KIND_CATALOG, _KIND_LAYOUT = 1, 2, 3, 4


@dataclasses.dataclass(frozen=True)
class Shape:
    fields: int
    width: int
    height: int
    spectra: int
    spec_samples: int = 1000

    def __post_init__(self):
        # a spectrum may only get whole cutouts from its own field's frames
        for extent in (self.width, self.height):
            reach = (extent / 2 - CUTOUT / 2) * PIX_SCALE_DEG
            if FIELD_STEP_DEG - self.jitter_deg <= reach:
                raise ValueError(f"frames of {extent} px overlap the next field")

    @property
    def jitter_deg(self) -> float:
        """Largest offset of a spectrum from its field centre, per axis,
        that keeps every cutout inside the frame at every zoom."""
        return (min(self.width, self.height) / 2 - CUTOUT / 2 - 2) * PIX_SCALE_DEG

    @property
    def frames(self) -> int:
        return self.fields * len(BANDS)

    def as_dict(self) -> dict:
        return dict(dataclasses.asdict(self), frames=self.frames)


def _rng(seed: int, kind: int, index: int) -> np.random.Generator:
    return np.random.default_rng(np.random.SeedSequence([seed, kind, index]))


def _card(key: str, value) -> bytes:
    if isinstance(value, bool):
        text = f"{key:<8}= {'T' if value else 'F':>20}"
    elif isinstance(value, (int, float)):
        text = f"{key:<8}= {value!r:>20}"
    else:
        text = f"{key:<8}= '{value}'"
    return text.ljust(80).encode("ascii")


def _header(cards: list[tuple[str, object]]) -> bytes:
    raw = b"".join(_card(k, v) for k, v in cards) + b"END".ljust(80)
    return raw + b" " * (-len(raw) % 2880)


def _pad(data: bytes) -> bytes:
    return data + b"\x00" * (-len(data) % 2880)


def _bintable(rec: np.ndarray) -> bytes:
    forms = {">i4": "J", ">i8": "K", ">f4": "E", ">f8": "D"}
    cards = [
        ("XTENSION", "BINTABLE"), ("BITPIX", 8), ("NAXIS", 2),
        ("NAXIS1", rec.dtype.itemsize), ("NAXIS2", len(rec)),
        ("PCOUNT", 0), ("GCOUNT", 1), ("TFIELDS", len(rec.dtype.names)),
    ]
    for i, name in enumerate(rec.dtype.names, 1):
        cards += [(f"TTYPE{i}", name), (f"TFORM{i}", forms[rec.dtype[name].str])]
    return _header(cards) + _pad(rec.tobytes())


def field_center(field: int, shape: Shape) -> tuple[float, float]:
    cols = max(1, int(np.ceil(np.sqrt(shape.fields))))
    return (
        30.0 + (field % cols) * FIELD_STEP_DEG,
        10.0 + (field // cols) * FIELD_STEP_DEG,
    )


def spectrum_positions(seed: int, shape: Shape) -> list[tuple[int, float, float]]:
    """(field, ra, dec) per spectrum: every third one repeats one of the two
    before it (a two-epoch target), the rest are distinct. Two epochs, not
    more: a two-term IVW sum is exact in any member order, so the ML cube
    is bit-reproducible."""
    rng = _rng(seed, _KIND_LAYOUT, 0)
    out: list[tuple[int, float, float]] = []
    for s in range(shape.spectra):
        if s % 3 == 2:
            out.append(out[s - 1 - int(rng.integers(0, 2))])
            continue
        for _ in range(10_000):
            field = int(rng.integers(0, shape.fields))
            ra0, dec0 = field_center(field, shape)
            dx, dy = rng.uniform(-shape.jitter_deg, shape.jitter_deg, 2)
            ra, dec = ra0 + dx, dec0 + dy
            if all(max(abs(ra - r), abs(dec - d)) >= MIN_SEPARATION_DEG for _, r, d in out):
                break
        else:
            raise ValueError(f"no room for {shape.spectra} spectra in {shape.fields} fields")
        out.append((field, ra, dec))
    return out


def write_image(path: str, seed: int, index: int, shape: Shape) -> None:
    field, band_i = divmod(index, len(BANDS))
    rng = _rng(seed, _KIND_IMAGE, index)
    ra, dec = field_center(field, shape)
    pixels = rng.gamma(4.0, 0.25, (shape.height, shape.width)).astype(">f4")
    cards = [
        ("SIMPLE", True), ("BITPIX", -32), ("NAXIS", 2),
        ("NAXIS1", shape.width), ("NAXIS2", shape.height),
        ("RUN", 1000 + field), ("CAMCOL", field % 6 + 1), ("FIELD", field),
        ("FILTER", BANDS[band_i]), ("TAI", 55000.0 + field + 0.1 * band_i),
        ("CRPIX1", shape.width / 2 + 0.5), ("CRPIX2", shape.height / 2 + 0.5),
        ("CD1_1", PIX_SCALE_DEG), ("CD1_2", 0.0),
        ("CD2_1", 0.0), ("CD2_2", PIX_SCALE_DEG),
        ("CRVAL1", ra), ("CRVAL2", dec),
        ("CTYPE1", "RA---TAN"), ("CTYPE2", "DEC--TAN"),
    ]
    with open(path, "wb") as f:
        f.write(_header(cards) + _pad(pixels.tobytes()))


def write_spectrum(
    path: str, seed: int, index: int, pos: tuple[int, float, float], shape: Shape
) -> None:
    _, ra, dec = pos
    rng = _rng(seed, _KIND_SPECTRUM, index)
    n = shape.spec_samples
    rec = np.zeros(n, dtype=[("loglam", ">f4"), ("flux", ">f4"), ("ivar", ">f4")])
    rec["loglam"] = np.linspace(*SPEC_LOGLAM, n)
    rec["flux"] = rng.uniform(0.5, 5.0, n)
    rec["ivar"] = rng.uniform(1.0, 100.0, n)
    primary = _header([
        ("SIMPLE", True), ("BITPIX", 8), ("NAXIS", 0), ("EXTEND", True),
        ("PLUG_RA", ra), ("PLUG_DEC", dec), ("TAI", 56000.5 + index),
        ("MJD", 56000 + index % 7), ("PLATEID", 3000 + index // 10),
        ("FIBERID", index % 10 + 1),
    ])
    with open(path, "wb") as f:
        f.write(primary + _bintable(rec))


def catalogued(shape: Shape) -> list[int]:
    """The spectra that have a gal_info/gal_sfr row: two of every three."""
    return [s for s in range(shape.spectra) if s % 3 != 1]


def write_catalogs(root: str, seed: int, shape: Shape) -> tuple[str, str]:
    """gal_info/gal_sfr in the same (shuffled) row order: the catalogued
    spectra plus as many rows for unobserved fibers. Returns both paths."""
    rng = _rng(seed, _KIND_CATALOG, 0)
    keys = [(3000 + s // 10, 56000 + s % 7, s % 10 + 1) for s in catalogued(shape)]
    keys += [(8000 + i, 50000, i % 10 + 1) for i in range(len(keys))]
    order = rng.permutation(len(keys))
    info = np.zeros(len(keys), dtype=[
        ("PLATEID", ">i4"), ("MJD", ">i4"), ("FIBERID", ">i4"), ("Z", ">f8"),
    ])
    sfr = np.zeros(len(keys), dtype=[("MEDIAN", ">f8"), ("P16", ">f8"), ("P84", ">f8")])
    for row, k in enumerate(order):
        info[row] = (*keys[k], rng.uniform(0.01, 0.3))
    med = rng.normal(0.0, 1.0, len(keys))
    sfr["MEDIAN"], sfr["P16"], sfr["P84"] = med, med - 0.3, med + 0.3
    primary = _header([("SIMPLE", True), ("BITPIX", 8), ("NAXIS", 0), ("EXTEND", True)])
    paths = []
    for name, rec in (("gal_info", info), ("gal_sfr", sfr)):
        p = os.path.join(root, f"{name}.fits")
        with open(p, "wb") as f:
            f.write(primary + _bintable(rec))
        paths.append(p)
    return paths[0], paths[1]


def make_corpus(root: str, seed: int, shape: Shape) -> dict:
    """Write the whole corpus under ``root``; returns its layout and size."""
    img_dir = os.path.join(root, "images")
    spec_dir = os.path.join(root, "spectra")
    os.makedirs(img_dir, exist_ok=True)
    os.makedirs(spec_dir, exist_ok=True)
    for i in range(shape.frames):
        field, band_i = divmod(i, len(BANDS))
        write_image(
            os.path.join(img_dir, f"frame-{BANDS[band_i]}-{1000 + field:06d}-{i:04d}.fits"),
            seed, i, shape,
        )
    for s, pos in enumerate(spectrum_positions(seed, shape)):
        write_spectrum(os.path.join(spec_dir, f"spec-{s:04d}.fits"), seed, s, pos, shape)
    gal_info, gal_sfr = write_catalogs(root, seed, shape)
    fits_bytes = sum(
        os.path.getsize(os.path.join(d, n))
        for d in (img_dir, spec_dir) for n in os.listdir(d)
    )
    return {
        "images": img_dir, "spectra": spec_dir, "gal_info": gal_info,
        "gal_sfr": gal_sfr, "fits_bytes": fits_bytes,
    }
