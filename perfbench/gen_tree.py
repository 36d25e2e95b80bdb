#!/usr/bin/env python3
"""Seeded MOUSE measurement tree for the saxs_tree workload.

Writes `<out>/<yyyy>/<ymd>/<ymd>_<batch>_<rep>/` repetition directories,
each holding the six raw-acquisition files the readiness gate counts
(`RepetitionScan.RequiredFiles`) and one processed `MOUSE_*.nxs` file that
carries every `Ingest.repetitionRules` path plus a direct-beam and a
sample-beam frame (f32, deflated in 64-row chunks). The HDF5 bytes come from
the spec-derived writers in `scripts/make_h5_fixtures.py`; the logbook is a
minimal `.xlsx` read back through `XlsxLogbook.logbook`.

The seed fixes the beam centres, transmissions, counting noise, which
repetitions are incomplete and which batch has no beam. `truth.json`
records what a correct pipeline must report for this tree.

    python3 perfbench/gen_tree.py --seed 7 --out /tmp/tree
"""
import argparse
import json
import sys
import zipfile
import zlib
from pathlib import Path

import numpy as np

sys.dont_write_bytecode = True
sys.path.insert(0, str(Path(__file__).resolve().parent.parent / 'scripts'))
import make_h5_fixtures as h5  # noqa: E402

# Tree shape: days x batches per day x repetitions per batch, frame h x w.
DAYS, BATCHES, REPS = 2, 3, 2
H, W = 257, 265
CHUNK_ROWS = 64
INCOMPLETE = 2          # repetitions missing raw files (gate drops them)
BEAM_AMP = 1.0e4        # peak counts of the direct beam
BEAM_SIGMA = 4.0        # px; the mask radius the pipeline derives is 10 px
MU = 100.0              # overallMu in the logbook, 1/m
GATE_FILES = ('eiger_1_master.h5', 'im_craw.nxs',
              'beam_profile/eiger_1_master.h5', 'beam_profile/im_craw.nxs',
              'beam_profile_through_sample/eiger_1_master.h5',
              'beam_profile_through_sample/im_craw.nxs')


def frame_dataset(f, img):
    """Chunked (64 rows x full width) deflated f32 dataset; edge chunk padded."""
    h, w = img.shape
    entries = []
    for r0 in range(0, h, CHUNK_ROWS):
        chunk = np.zeros((CHUNK_ROWS, w), dtype='<f4')
        part = img[r0:r0 + CHUNK_ROWS]
        chunk[:part.shape[0]] = part
        z = zlib.compress(chunk.tobytes(), 6)
        entries.append(((r0, 0), len(z), f.append(z)))
    btree = h5.chunk_btree(f, 2, entries)
    return h5.object_header_v2(f, [
        (0x01, h5.space_simple([h, w])), (0x03, h5.dt_f32()),
        (0x0B, h5.filter_deflate()),
        (0x08, h5.layout_chunked(btree, [CHUNK_ROWS, w], 4))])


def write_mouse(path, direct, sample):
    f = h5.FileBuf()
    f.alloc(48)

    def scalar(value, units=None):
        raw = f.append(np.float64(value).tobytes())
        msgs = [(0x01, h5.space_scalar()), (0x03, h5.dt_f64()),
                (0x08, h5.layout_contiguous(raw, 8))]
        if units:
            ub = units.encode() + b'\x00'
            msgs.append((0x0C, h5.attr_v3('units', h5.dt_str(len(ub)),
                                          h5.space_scalar(), ub)))
        return h5.object_header_v2(f, msgs)

    g = h5.group_v2
    direct_g = g(f, {'data': frame_dataset(f, direct),
                     'frame_time': scalar(1.0, 's')})
    sample_g = g(f, {'data': frame_dataset(f, sample),
                     'frame_time': scalar(1.0, 's')})
    det00 = g(f, {'darkcurrent': scalar(0.0),
                  'averaged_number_of_frames': scalar(1.0),
                  'transformations': g(f, {'det_x': scalar(2.5, 'm')})})
    entry1 = g(f, {
        'instrument': g(f, {'configuration': scalar(1.0), 'detector00': det00}),
        'processing': g(f, {'direct_beam_profile': direct_g,
                            'sample_beam_profile': sample_g}),
        'sample': g(f, {
            'beam': g(f, {'incident_wavelength': scalar(1.54, 'angstrom')}),
            'transformations': g(f, {'sample_x': scalar(500.0, 'mm')})})})
    h5.finish_v2(f, g(f, {'entry1': entry1}), path)


def frames(rng, h, w, cy, cx, transmission, beam):
    """Integer-count direct and sample frames. Background counts stay <= 1,
    below the beam finder's max(1, mean) threshold, so a beamless frame
    labels nothing. The sample frame adds a faint scattering ring far outside
    the 10 px beam mask: it moves the whole-image transmission but not the
    masked one, which stays `transmission`."""
    y, x = np.mgrid[0:h, 0:w]
    r2 = (y - cy) ** 2 + (x - cx) ** 2
    gauss = BEAM_AMP * np.exp(-r2 / (2 * BEAM_SIGMA ** 2)) if beam else 0.0
    ring_r = 0.25 * min(h, w)
    ring = 3.0 * np.exp(-(np.sqrt(r2) - ring_r) ** 2 / (2 * 4.0 ** 2))
    noise = lambda: rng.binomial(1, 0.05, size=(h, w))  # noqa: E731
    direct = np.rint(gauss) + noise()
    sample = np.rint(transmission * gauss + ring) + noise()
    return direct.astype('<f4'), sample.astype('<f4')


def cell(ref, v):
    if isinstance(v, str):
        return f'<c r="{ref}" t="inlineStr"><is><t>{v}</t></is></c>'
    return f'<c r="{ref}"><v>{v!r}</v></c>'


def write_logbook(path, rows):
    header = ['ymd', 'batchnum', 'proposal', 'user', 'sampleid', 'sampleName',
              'composition', 'density', 'samplethickness', 'bgymd',
              'bgnumber', 'dbgymd', 'dbgnumber', 'overallMu', 'matrixfraction']
    cols = [chr(ord('A') + i) for i in range(len(header))]
    xml_rows = []
    for i, r in enumerate([header] + rows, start=1):
        cells = ''.join(cell(f'{c}{i}', v) for c, v in zip(cols, r))
        xml_rows.append(f'<row r="{i}">{cells}</row>')
    sheet = ('<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
             '<worksheet xmlns="http://schemas.openxmlformats.org/'
             'spreadsheetml/2006/main"><sheetData>'
             + ''.join(xml_rows) + '</sheetData></worksheet>')
    with zipfile.ZipFile(path, 'w', zipfile.ZIP_DEFLATED) as z:
        z.writestr('xl/worksheets/sheet1.xml', sheet)


def generate(out, seed):
    """Write the tree under `out` and return its truth record."""
    h, w = H, W
    rng = np.random.default_rng(seed)
    ymds = [f'202401{15 + d}' for d in range(DAYS)]
    # batch 1 of each day is the empty-cell background the others point at
    batches = [(ymd, b) for ymd in ymds for b in range(1, BATCHES + 1)]
    samples = [k for k in batches if k[1] != 1]
    beamless = samples[rng.integers(len(samples))]
    reps = [(k, r) for k in batches for r in range(1, REPS + 1)]
    incomplete = {reps[i] for i in
                  rng.choice(len(reps), size=INCOMPLETE, replace=False)}

    truth_batches, logbook = {}, []
    for ymd, b in batches:
        bg = b == 1
        cy = h / 2 + rng.uniform(-20, 20)
        cx = w / 2 + rng.uniform(-20, 20)
        t = rng.uniform(0.85, 0.95) if bg else rng.uniform(0.3, 0.8)
        truth_batches[f'{ymd}_{b}'] = dict(
            ymd=ymd, batch=b, beam_center=[cy, cx], transmission=t,
            beam=(ymd, b) != beamless, ready=0)
        logbook.append([ymd, b, 'perf', 'bench', f's{ymd}_{b}',
                        'empty cell' if bg else f'sample {b}',
                        'H2O' if bg else 'SiO2', 1.0 if bg else 2.2,
                        0.001 if bg else -1.0, ymd, 1, 'None', 0, MU, 1.0])

    in_bytes = 0
    for (ymd, b), r in reps:
        tb = truth_batches[f'{ymd}_{b}']
        d = out / ymd[:4] / ymd / f'{ymd}_{b}_{r}'
        (d / 'beam_profile').mkdir(parents=True, exist_ok=True)
        (d / 'beam_profile_through_sample').mkdir(exist_ok=True)
        complete = ((ymd, b), r) not in incomplete
        for name in GATE_FILES if complete else GATE_FILES[:4]:
            (d / name).write_bytes(b'raw acquisition placeholder\n')
        tb['ready'] += complete
        direct, sample = frames(rng, h, w, *tb['beam_center'],
                                tb['transmission'], tb['beam'])
        mouse = d / f'MOUSE_{ymd}_{b}_{r}.nxs'
        write_mouse(mouse, direct, sample)
        in_bytes += mouse.stat().st_size
    write_logbook(out / 'logbook.xlsx', logbook)

    ready = sum(t['ready'] for t in truth_batches.values())
    quarantined = sum(t['ready'] for t in truth_batches.values()
                      if not t['beam'])
    truth = dict(seed=seed, h=h, w=w, repetitions=len(reps),
                 ready=ready, quarantined=quarantined, mouse_bytes=in_bytes,
                 batches=list(truth_batches.values()))
    (out / 'truth.json').write_text(json.dumps(truth, indent=1))
    return truth


def main():
    ap = argparse.ArgumentParser(description=__doc__.split('\n\n')[0])
    ap.add_argument('--seed', type=int, required=True)
    ap.add_argument('--out', type=Path, required=True)
    a = ap.parse_args()
    a.out.mkdir(parents=True, exist_ok=True)
    t = generate(a.out, a.seed)
    print(f"{t['repetitions']} repetitions ({t['ready']} ready, "
          f"{t['quarantined']} beamless), {t['mouse_bytes'] / 1e6:.1f} MB "
          f"of MOUSE files under {a.out}")


if __name__ == '__main__':
    main()
