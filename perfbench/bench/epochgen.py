"""Seeded inputs for the epoch_frame workload.

Each image set is what the reference pipeline takes for one epoch: a
headerless metadata CSV (filename, epoch id) and three dithered frames,
each a FITS file with an empty primary HDU and one float32 image
extension. Stars are Gaussian (sigma 1.8 px) on a flat sky of 100 ADU with
Gaussian noise. The planted truth goes to truth.json, which only the
benchmark's checks read; the program under test gets the CSV and FITS
files alone.
"""
import json
import os

import numpy as np

SIGMA = 1.8
SKY = 100.0
NOISE = 5.0
MARGIN = 24          # > dither + annulus radius + fit box from every edge
MIN_SEP = 22.0       # > 5 * FWHM, so no star is crowded out of the mask
AMP_RANGE = (800.0, 4000.0)  # peak ADU, well below the 50 000 saturation cut
MAX_DITHER = 4


def _card(key, value):
    return f"{key:<8}= {value:>20}".ljust(80).encode("ascii")


def _pad(data, fill):
    return data + fill * ((2880 - len(data) % 2880) % 2880)


def fits_bytes(image):
    """Primary HDU without data plus one BITPIX -32 image extension."""
    end = b"END".ljust(80)
    primary = _pad(_card("SIMPLE", "T") + _card("BITPIX", "8") +
                   _card("NAXIS", "0") + _card("EXTEND", "T") + end, b" ")
    h, w = image.shape
    ext = _pad(f"{'XTENSION':<8}= 'IMAGE   '".ljust(80).encode("ascii") +
               _card("BITPIX", "-32") + _card("NAXIS", "2") +
               _card("NAXIS1", str(w)) + _card("NAXIS2", str(h)) +
               _card("PCOUNT", "0") + _card("GCOUNT", "1") + end, b" ")
    return primary + ext + _pad(image.astype(">f4").tobytes(), b"\0")


def plant(rng, frame, n_stars):
    """Non-overlapping stars well inside the frame: (x, y, peak amplitude)."""
    stars = []
    tries = 0
    while len(stars) < n_stars:
        tries += 1
        if tries > 200 * n_stars:
            raise ValueError(f"cannot place {n_stars} stars in {frame} px")
        x, y = rng.uniform(MARGIN, frame - MARGIN, size=2)
        if all((x - sx) ** 2 + (y - sy) ** 2 >= MIN_SEP ** 2
               for sx, sy, _ in stars):
            stars.append((float(x), float(y), float(rng.uniform(*AMP_RANGE))))
    return stars


def render(rng, frame, stars, dither):
    img = SKY + rng.normal(0.0, NOISE, size=(frame, frame))
    r = int(np.ceil(6 * SIGMA))
    for x0, y0, amp in stars:
        x, y = x0 + dither[0], y0 + dither[1]
        cx, cy = int(round(x)), int(round(y))
        ys, xs = np.mgrid[cy - r:cy + r + 1, cx - r:cx + r + 1]
        img[cy - r:cy + r + 1, cx - r:cx + r + 1] += amp * np.exp(
            -((xs - x) ** 2 + (ys - y) ** 2) / (2 * SIGMA ** 2))
    return img


def generate(seed, out_dir, frame, n_sets, n_stars, n_frames=3):
    """Write n_sets image sets under out_dir/set_<k>; return their truth."""
    rng = np.random.default_rng(seed)
    truths = []
    for k in range(n_sets):
        d = os.path.join(out_dir, f"set_{k}")
        os.makedirs(d, exist_ok=True)
        stars = plant(rng, frame, n_stars)
        dithers = [(0, 0)] + [tuple(int(v) for v in rng.integers(
            -MAX_DITHER, MAX_DITHER + 1, size=2)) for _ in range(n_frames - 1)]
        names = []
        for i, dither in enumerate(dithers):
            name = f"frame_{i}.fits"
            with open(os.path.join(d, name), "wb") as fh:
                fh.write(fits_bytes(render(rng, frame, stars, dither)))
            names.append(name)
        with open(os.path.join(d, "meta.csv"), "w") as fh:
            fh.writelines(f"{n},{k + 1}\n" for n in names)
        truth = {"frame": frame, "dithers": dithers,
                 "stars": [[x, y, amp * 2 * np.pi * SIGMA ** 2]
                           for x, y, amp in stars]}
        with open(os.path.join(d, "truth.json"), "w") as fh:
            json.dump(truth, fh)
        truths.append(truth)
    return truths
