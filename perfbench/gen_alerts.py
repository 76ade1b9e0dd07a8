#!/usr/bin/env python3
"""Seeded generator of ZTF-shaped alert batches for the benchmark.

Writes parquet files whose schema is the union of the columns the bound
ZTF filters read (FIXTURES.md section 1 types): the `candidate` struct,
a `prv_candidates` history whose length is drawn from a distribution,
gzipped-FITS `cutoutScience` / `cutoutTemplate` stamps, and the
science-module and cross-match columns.

Beside the data it computes, with numpy alone, how many alerts of each
file pass every pure-predicate filter (`expected_counts` mirrors the
Catalyst masks of `graft.filters.ztf.ZtfFilters`). Those counts are the
independent reference the benchmark checks the engine against.

The same seed gives byte-identical files:

    python3 perfbench/gen_alerts.py --out DIR --seed 7 --files 4 --alerts 500
"""
import argparse
import gzip
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# SIMBAD vocabulary, weighted towards the classes the filters select on
EXTRAGALACTIC = ["Unknown", "Candidate_SN*", "SN", "SN candidate", "galaxy",
                 "Galaxy", "EmG", "Seyfert", "Seyfert_1", "Seyfert_2",
                 "BlueCompG", "StarburstG", "LSB_G", "HII_G", "High_z_G",
                 "GinPair", "GinGroup", "BClG", "GinCl", "PartofG"]
GRAVITATIONAL = ["Gravitation", "LensingEv", "GravLensSystem", "GravLens",
                 "LensedImage", "LensedG", "LensedQ", "BlackHole",
                 "GravWaveEvent"]
BLAZARS = ["Blazar", "Blazar_Candidate", "BLLac", "BLLac_Candidate"]
YSO = ["Candidate_YSO", "Candidate_TTau*", "YSO_Candidate",
       "TTau*_Candidate"]
STARS = ["RRLyr", "RRLyrae", "EB*", "LPV*", "Mira", "delSctV*", "QSO",
         "RSCVnV*", "Star", "AGN", "Transient", "Fail", "Fail 504",
         "Galaxy_Candidate", "X", "Blue"]
CDS_POOL = (["Unknown"] * 30 + EXTRAGALACTIC * 2 + GRAVITATIONAL + BLAZARS
            + YSO + STARS * 2)
SPICY = ["Unknown", "Unknown", "Unknown", "ClassI", "ClassII", "FS"]

STAMP_PX = 21        # side of a cutout stamp (pixels)
STAMP_POOL = 48      # distinct stamps per seed, drawn per alert


def _fits_stamp(rng, hosted):
    """One gzipped single-HDU FITS image (BITPIX -32, big-endian)."""
    img = rng.normal(100.0, 5.0, (STAMP_PX, STAMP_PX))
    c = (STAMP_PX - 1) / 2.0
    y, x = np.mgrid[0:STAMP_PX, 0:STAMP_PX]
    r2 = (x - c) ** 2 + (y - c) ** 2
    if hosted:  # an extended host skews the central disc's pixels
        img += rng.uniform(10, 60) * np.exp(-r2 / 40.0)
    cards = ["SIMPLE  =                    T", "BITPIX  =                  -32",
             "NAXIS   =                    2",
             f"NAXIS1  = {STAMP_PX:>20d}", f"NAXIS2  = {STAMP_PX:>20d}", "END"]
    header = "".join(card.ljust(80) for card in cards)
    header = header.ljust(-(-len(header) // 2880) * 2880).encode("ascii")
    data = img.astype(">f4").tobytes()
    data += b"\0" * (-len(data) % 2880)
    return gzip.compress(header + data, compresslevel=6, mtime=0)


def _history(rng, n, mean_len, jd):
    """prv_candidates as flat arrays plus per-alert offsets."""
    lens = np.minimum(rng.negative_binomial(2, 2.0 / (2.0 + mean_len), n),
                      int(8 * mean_len) + 4)
    offsets = np.concatenate([[0], np.cumsum(lens)]).astype(np.int32)
    tot = int(offsets[-1])
    owner = np.repeat(np.arange(n), lens)
    # gaps back in time: a mix of intra-night (hours) and inter-night
    gaps = np.where(rng.random(tot) < 0.35, rng.uniform(0.01, 0.4, tot),
                    rng.exponential(2.0, tot) + 0.5)
    # each point lies the sum of the gaps after it back from the current
    # epoch, so a history runs oldest first like ZTF's
    cs = np.cumsum(gaps)
    seg_end = cs[np.maximum(offsets[1:] - 1, 0)][owner]
    back = seg_end - np.concatenate([[0.0], cs[:-1]])
    h = {
        "jd": jd[owner] - back,
        "fid": rng.integers(1, 3, tot).astype(np.int32),
        "magpsf": rng.uniform(16.5, 21.5, tot).astype(np.float32),
        "sigmapsf": rng.uniform(0.02, 0.25, tot).astype(np.float32),
        "magnr": rng.uniform(14.0, 22.0, tot).astype(np.float32),
        "sigmagnr": rng.uniform(0.01, 0.2, tot).astype(np.float32),
        "magzpsci": rng.uniform(25.5, 26.5, tot).astype(np.float32),
        "isdiffpos": np.where(rng.random(tot) < 0.9, "t", "f"),
        "diffmaglim": rng.uniform(19.0, 21.0, tot).astype(np.float32),
        "ssnamenr": np.full(tot, "null", dtype=object),
        "distnr": rng.uniform(0.0, 10.0, tot).astype(np.float32),
    }
    upper_limit = rng.random(tot) < 0.3  # non-detections carry no magpsf
    return lens, offsets, h, upper_limit


def generate_file(rng, n, mean_hist, file_idx, stamps):
    jd0 = 2460000.5 + float(rng.integers(0, 2000))
    jd = jd0 + rng.uniform(0.0, 0.3, n)
    lens, offsets, hist, ul = _history(rng, n, mean_hist, jd)
    owner = np.repeat(np.arange(n), lens)
    det_per_alert = np.bincount(owner, weights=~ul, minlength=n).astype(
        np.int64)
    oldest = hist["jd"][np.minimum(offsets[:-1], max(len(ul) - 1, 0))] \
        if len(ul) else jd
    first_jd = np.where(lens > 0, oldest, jd)
    roid = rng.choice(np.array([0, 0, 0, 0, 0, 0, 1, 2, 3], np.int32), n)
    c = {
        "jd": jd,
        "fid": rng.integers(1, 3, n).astype(np.int32),
        "magpsf": rng.uniform(16.0, 21.5, n).astype(np.float32),
        "sigmapsf": rng.uniform(0.02, 0.25, n).astype(np.float32),
        "ra": rng.uniform(0.0, 360.0, n),
        "dec": np.degrees(np.arcsin(rng.uniform(-0.5, 1.0, n))),
        "drb": rng.random(n).astype(np.float32),
        "classtar": rng.random(n).astype(np.float32),
        "rb": rng.random(n).astype(np.float32),
        "nbad": rng.choice(np.array([0, 0, 0, 1, 2], np.int32), n),
        "ndethist": (det_per_alert + 1).astype(np.int32),
        "jdstarthist": np.minimum(first_jd, jd),
        "distnr": rng.uniform(0.0, 10.0, n).astype(np.float32),
        "ssdistnr": np.where(rng.random(n) < 0.8, -999.0,
                             rng.uniform(0, 30, n)).astype(np.float32),
        "ssnamenr": np.full(n, "null", dtype=object),
        "isdiffpos": np.where(rng.random(n) < 0.9, "t", "f"),
        "magnr": rng.uniform(14.0, 22.0, n).astype(np.float32),
        "sigmagnr": rng.uniform(0.01, 0.2, n).astype(np.float32),
        "magzpsci": rng.uniform(25.5, 26.5, n).astype(np.float32),
        "diffmaglim": rng.uniform(19.0, 21.0, n).astype(np.float32),
        "neargaia": rng.uniform(0.0, 30.0, n).astype(np.float32),
        "distpsnr1": rng.uniform(0.0, 30.0, n).astype(np.float32),
        "field": rng.integers(200, 900, n).astype(np.int32),
    }
    cds = rng.choice(np.array(CDS_POOL, dtype=object), n)
    cols = {
        "candid": (np.int64(file_idx) * 1_000_000 + np.arange(n)).astype(
            np.int64),
        "objectId": np.array([f"ZTF{file_idx:05d}{i:06d}" for i in range(n)],
                             dtype=object),
        "cdsxmatch": cds,
        "snn_snia_vs_nonia": rng.random(n),
        "snn_sn_vs_all": rng.random(n),
        "rf_snia_vs_nonia": np.where(rng.random(n) < 0.3, 0.0, rng.random(n)),
        "rf_kn_vs_nonkn": rng.random(n),
        "roid": roid,
        "mulens": np.where(rng.random(n) < 0.9, 0.0, rng.random(n)),
        "tns": np.where(rng.random(n) < 0.85, "",
                        rng.choice(np.array(["SN Ia", "SN II", "Unknown",
                                             "TDE"], dtype=object), n)),
        "DR3Name": np.where(rng.random(n) < 0.6, "nan",
                            np.array([f"Gaia DR3 {i}" for i in range(n)],
                                     dtype=object)),
        "tracklet": np.where(rng.random(n) < 0.95, "",
                             np.array([f"TRCK_{i % 97}" for i in range(n)],
                                      dtype=object)),
        "spicy_class": rng.choice(np.array(SPICY, dtype=object), n),
        "nalerthist": (det_per_alert + 1 + rng.integers(0, 4, n)).astype(
            np.int32),
        "slope": rng.normal(0.0, 0.05, n),
        "bs": rng.uniform(-0.5, 2.5, (n, 4)).astype(np.float32),
        "lum": np.where(rng.random(n) < 0.2, None,
                        np.round(rng.uniform(5.0, 600.0, n), 3)),
        "stamp_sci": rng.integers(0, len(stamps), n),
        "stamp_tpl": rng.integers(0, len(stamps), n),
    }
    return c, cols, offsets, hist, ul


def to_table(c, cols, offsets, hist, ul, stamps):
    n = len(cols["candid"])
    f32 = pa.float32()
    cand = pa.StructArray.from_arrays(
        [pa.array(v, type=(pa.string() if v.dtype == object
                           or v.dtype.kind == "U" else None))
         for v in c.values()], names=list(c.keys()))
    hmag = pa.array(hist["magpsf"], type=f32, mask=ul)
    hfields = {k: (hmag if k == "magpsf" else
                   pa.array(v, type=(pa.string() if v.dtype == object
                                     or v.dtype.kind == "U" else None)))
               for k, v in hist.items()}
    hstruct = pa.StructArray.from_arrays(list(hfields.values()),
                                         names=list(hfields.keys()))
    prv = pa.ListArray.from_arrays(pa.array(offsets, pa.int32()), hstruct)

    def cutout(idx, kind):
        return pa.StructArray.from_arrays(
            [pa.array([f"candid{cid}_{kind}.fits.gz"
                       for cid in cols["candid"]]),
             pa.array([stamps[i] for i in idx], pa.binary())],
            names=["fileName", "stampData"])

    bs_keys = ["instantness_high", "robustness_high", "instantness_low",
               "robustness_low"]
    blazar = pa.MapArray.from_arrays(
        pa.array(np.arange(0, 4 * n + 1, 4), pa.int32()),
        pa.array(bs_keys * n), pa.array(cols["bs"].ravel(), f32))
    mangrove = pa.MapArray.from_arrays(
        pa.array(np.arange(0, 2 * n + 1, 2), pa.int32()),
        pa.array(["lum_dist", "HyperLEDA_name"] * n),
        pa.array([v for lum in cols["lum"]
                  for v in ("None" if lum is None else f"{lum:.3f}",
                            "PGC0")]))
    lcr = pa.StructArray.from_arrays(
        [pa.array(cols["slope"]), pa.array(np.abs(cols["slope"]) * 3)],
        names=["linear_fit_slope", "amplitude"])
    table = pa.table({
        "candid": cols["candid"],
        "objectId": pa.array(cols["objectId"], pa.string()),
        "schemavsn": pa.array(["3.3"] * n),
        "candidate": cand,
        "prv_candidates": prv,
        "cutoutScience": cutout(cols["stamp_sci"], "science"),
        "cutoutTemplate": cutout(cols["stamp_tpl"], "template"),
        "cdsxmatch": pa.array(cols["cdsxmatch"], pa.string()),
        "snn_snia_vs_nonia": cols["snn_snia_vs_nonia"],
        "snn_sn_vs_all": cols["snn_sn_vs_all"],
        "rf_snia_vs_nonia": cols["rf_snia_vs_nonia"],
        "rf_kn_vs_nonkn": cols["rf_kn_vs_nonkn"],
        "roid": pa.array(cols["roid"], pa.int32()),
        "mulens": cols["mulens"],
        "tns": pa.array(cols["tns"], pa.string()),
        "DR3Name": pa.array(cols["DR3Name"], pa.string()),
        "tracklet": pa.array(cols["tracklet"], pa.string()),
        "spicy_class": pa.array(cols["spicy_class"], pa.string()),
        "nalerthist": pa.array(cols["nalerthist"], pa.int32()),
        "lc_features_r": lcr,
        "blazar_stats": blazar,
        "mangrove": mangrove,
    })
    return table


def _f64(a):
    return np.asarray(a, dtype=np.float64)


def expected_counts(c, cols):
    """Pass counts of the pure-predicate filters, evaluated with numpy in
    float64 (the engine widens float columns to double the same way)."""
    cds = cols["cdsxmatch"].astype(str)
    eg = np.isin(cds, EXTRAGALACTIC)
    drb, classtar = _f64(c["drb"]), _f64(c["classtar"])
    age = c["jd"] - c["jdstarthist"]
    roid, ndet = cols["roid"], c["ndethist"]
    snn = (cols["snn_snia_vs_nonia"] > 0.5) | (cols["snn_sn_vs_all"] > 0.5)
    in_simbad = (~np.isin(cds, ["Unknown", "Transient", "Fail", "Fail 504"])
                 & ~np.char.startswith(cds, "Fail")
                 & ~np.char.startswith(cds, "Galaxy"))
    tns = cols["tns"].astype(str)
    bs = _f64(cols["bs"])
    lum = np.array([np.nan if v is None else float(f"{v:.3f}")
                    for v in cols["lum"]])
    dec = c["dec"]
    masks = {
        "ztf.quality_cuts": (_f64(c["rb"]) >= 0.55) & (c["nbad"] == 0),
        "ztf.livestream.sn_candidates":
            snn & eg & (age <= 90) & (drb > 0.5) & (classtar > 0.4)
            & (ndet > 1) & (roid != 3),
        "ztf.livestream.early_sn_candidates":
            snn & eg & (drb > 0.5) & (classtar > 0.4) & (ndet <= 20)
            & (cols["rf_snia_vs_nonia"] > 0.5),
        "ztf.livestream.kn_candidates":
            (cols["rf_kn_vs_nonkn"] > 0.5) & (drb > 0.5) & (classtar > 0.4)
            & (age < 5) & (roid != 3) & (ndet < 20) & eg,
        "ztf.livestream.sso_ztf_candidates": roid == 3,
        "ztf.livestream.sso_fink_candidates": roid == 2,
        "ztf.livestream.microlensing_candidates": cols["mulens"] > 0.0,
        "ztf.livestream.blazar": np.isin(cds, BLAZARS),
        "ztf.livestream.simbad_grav_candidates": np.isin(cds, GRAVITATIONAL),
        "ztf.livestream.tns_match": (tns != "") & (age <= 30),
        "ztf.livestream.vra":
            (cds == "Unknown") & (roid != 3) & (_f64(c["magpsf"]) > 19.5)
            & (drb > 0.5),
        "ztf.livestream.yso_candidates": np.isin(cds, YSO),
        "ztf.rrlyr": (cds == "RRLyr") | (cds == "RRLyrae"),
        "ztf.simbad_candidates": in_simbad,
        "ztf.gaia_dr3_candidates": cols["DR3Name"].astype(str) != "nan",
        "ztf.tracklet_candidates":
            np.char.startswith(cols["tracklet"].astype(str), "TRCK_"),
        "ztf.snlike":
            (cols["rf_snia_vs_nonia"] > 0.0) & (cds == "Unknown")
            & (_f64(c["neargaia"]) > 5.0) & (_f64(c["distpsnr1"]) > 5.0),
        "ztf.example_filter": in_simbad & (_f64(c["magpsf"]) > 20.5),
        "ztf.blazar_high_state": (bs[:, 0] > 1) & (bs[:, 1] > 1),
        "ztf.blazar_low_state":
            (bs[:, 2] >= 0) & (bs[:, 2] < 1) & (bs[:, 3] >= 0)
            & (bs[:, 3] < 1),
        # a null lum_dist makes the whole conjunction null: not passing
        "ztf.vast_supernovae":
            (lum < 200) & (dec < -10) & ~np.isin(tns, ["", "Unknown"]),
        "ztf.vast_supernovae_candidates":
            (lum < 200) & (dec < -10) & (cols["snn_sn_vs_all"] > 0.5),
    }
    return {k: int(v.sum()) for k, v in masks.items()}


def generate(out, seed, files, alerts, mean_hist, prefix="alerts"):
    """Write `files` parquet files of `alerts` rows each under `out`;
    return {file name: {filter: expected pass count}} (the command line
    also writes it to `out/expected.json`)."""
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng(seed)
    stamps = [_fits_stamp(rng, hosted=(i % 2 == 1)) for i in range(STAMP_POOL)]
    expected = {}
    for f in range(files):
        c, cols, offsets, hist, ul = generate_file(
            rng, alerts, mean_hist, f, stamps)
        name = f"{prefix}-{f:05d}.parquet"
        pq.write_table(to_table(c, cols, offsets, hist, ul, stamps),
                       os.path.join(out, name), compression="snappy")
        expected[name] = expected_counts(c, cols)
    return expected


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--out", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--files", type=int, default=4)
    ap.add_argument("--alerts", type=int, default=500)
    ap.add_argument("--history", type=float, default=10.0,
                    help="mean prv_candidates length")
    a = ap.parse_args()
    expected = generate(a.out, a.seed, a.files, a.alerts, a.history)
    with open(os.path.join(a.out, "expected.json"), "w") as fh:
        json.dump(expected, fh, sort_keys=True, indent=1)


if __name__ == "__main__":
    main()
