"""Inputs for the benchmark; no package code runs here.

* The analytics queries read the repository's own test data at sf0.01,
  vendored under ``perfbench/data/sf0.01`` (the tables those queries
  read, byte copies, checked against ``SHA256SUMS`` at set-up). To
  refresh the copy from the test data directory:

      python3 perfbench/gen.py --vendor <testdata>/sf0.01

* The sync reads what is made here from ``--seed`` with NumPy and
  PyArrow: the reference domain's dimension tables (branches, periods,
  the 29-area catalog) and Zenput-shaped landing JSONL, one submission
  per line, an overall score answer plus one formula answer per
  catalog area. The same seed gives byte-identical inputs.
"""

from __future__ import annotations

import argparse
import datetime as dt
import hashlib
import json
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: the reference catalog's size: 29 inspected areas; no name contains
#: another, so the sync's containment match resolves each exactly
AREAS = [
    "CUARTO FRIO", "FREIDORAS", "HORNOS", "MARINADO", "ALMACEN SECO",
    "BANOS CLIENTES", "BANOS EMPLEADOS", "CAJA", "COMEDOR", "ESTACIONAMIENTO",
    "FACHADA", "LAVAMANOS", "LOCKERS", "MOSTRADOR", "REFRESQUERA",
    "TARJA", "EXTINTORES", "BOTIQUIN", "CONGELADOR", "PAN", "SALSAS",
    "EMPAQUES", "UNIFORMES", "BASURA", "PLAGAS", "TERMOMETROS",
    "VITRINA", "DRIVE THRU", "ILUMINACION",
]
ESTADOS = ["Nuevo Leon", "Coahuila", "Tamaulipas", "Queretaro", "Michoacan"]

#: the tables the analytics queries read, and where their copy lives
TABLES = ("nation", "customer", "orders", "documents", "embeddings")
TABLES_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data", "sf0.01")

N_GRUPOS = 20
N_SUCURSALES = 86
N_PERIODOS = 7
EPOCH = dt.date(1995, 1, 1)


def _write(out: str, name: str, cols: dict) -> None:
    pq.write_table(pa.table(cols), os.path.join(out, f"{name}.parquet"))


def _sha256(path: str) -> str:
    with open(path, "rb") as f:
        return hashlib.sha256(f.read()).hexdigest()


def vendor(src: str, dst: str = TABLES_DIR) -> None:
    """Copy the tables the analytics queries read from the repository's
    test data directory ``src`` (see TESTDATA.md) into ``dst``, byte for
    byte, and write their checksums to ``dst/SHA256SUMS``."""
    os.makedirs(dst, exist_ok=True)
    lines = []
    for name in TABLES:
        f = f"{name}.parquet"
        shutil.copyfile(os.path.join(src, f), os.path.join(dst, f))
        lines.append(f"{_sha256(os.path.join(dst, f))}  {f}\n")
    with open(os.path.join(dst, "SHA256SUMS"), "w") as out:
        out.writelines(lines)


def check_tables(dst: str = TABLES_DIR) -> dict:
    """Verify the vendored tables against ``SHA256SUMS``; returns their
    sizes in bytes by table. Raises if one is missing or changed."""
    with open(os.path.join(dst, "SHA256SUMS")) as f:
        want = dict(reversed(line.split()) for line in f if line.strip())
    sizes = {}
    for name in TABLES:
        path = os.path.join(dst, f"{name}.parquet")
        if _sha256(path) != want[f"{name}.parquet"]:
            raise ValueError(f"{path} does not match SHA256SUMS")
        sizes[name] = os.path.getsize(path)
    return sizes


class Domain:
    """The sync's dimensions plus a seeded, skewed visit rate per branch.

    ``periodos`` are ``N_PERIODOS`` contiguous ranges that together cover
    ``[EPOCH, EPOCH + days)``; the last one is the active period.
    """

    def __init__(self, seed: int, days: int):
        rng = np.random.default_rng([seed, 2])
        grupo_of = rng.integers(1, N_GRUPOS + 1, N_SUCURSALES)
        # a seeded, skewed visit rate per branch (busy branches get
        # inspected more often) and a few branches with none at all
        weights = rng.zipf(1.6, N_SUCURSALES).astype(float)
        weights[rng.choice(N_SUCURSALES, 3, replace=False)] = 0.0
        self.visit_p = weights / weights.sum()
        self.sucursales = [
            (
                i + 1,
                f"Sucursal {i + 1:03d}",
                str(i + 1),
                None if i % 23 == 22 else ESTADOS[i % len(ESTADOS)],
                f"Ciudad {i % 11}",
                int(grupo_of[i]),
                bool(i % 29 != 28),
                (None, "local", "foraneo")[i % 3],
                None if i % 31 == 30 else float(np.round(25.0 + rng.random(), 5)),
                None if i % 31 == 30 else float(np.round(-100.0 - rng.random(), 5)),
                f"LOC-{i + 1:03d}",
            )
            for i in range(N_SUCURSALES)
        ]
        edges = np.linspace(0, days, N_PERIODOS + 1).astype(int)
        self.periodos = [
            (
                p + 1,
                f"CAS-{p + 1:02d}",
                f"Periodo {p + 1}",
                EPOCH + dt.timedelta(days=int(edges[p])),
                EPOCH + dt.timedelta(days=int(edges[p + 1]) - 1),
                p == N_PERIODOS - 1,
            )
            for p in range(N_PERIODOS)
        ]
        self.catalogo = [
            (i + 1, f"A{i + 1:02d}", name, i + 1) for i, name in enumerate(AREAS)
        ]

    def write(self, out: str) -> None:
        """The sync's dimension inputs as parquet: ``sucursales``,
        ``periodos_cas`` and ``catalogo_areas``."""
        os.makedirs(out, exist_ok=True)
        i32 = lambda v: pa.array(v, pa.int32())
        cols = lambda rows, names: {n: [r[i] for r in rows] for i, n in enumerate(names)}
        s = cols(self.sucursales, [
            "id", "nombre", "numero", "estado", "ciudad", "grupo_operativo_id",
            "activo", "clasificacion", "latitud", "longitud", "zenput_location_id",
        ])
        s["id"], s["grupo_operativo_id"] = i32(s["id"]), i32(s["grupo_operativo_id"])
        for k, t in (("estado", pa.string()), ("clasificacion", pa.string()),
                     ("latitud", pa.float64()), ("longitud", pa.float64())):
            s[k] = pa.array(s[k], t)
        _write(out, "sucursales", s)
        p = cols(self.periodos, ["id", "codigo", "nombre", "fecha_inicio", "fecha_fin", "activo"])
        p["id"] = i32(p["id"])
        _write(out, "periodos_cas", p)
        c = cols(self.catalogo, ["id", "codigo", "nombre", "numero"])
        c["id"], c["numero"] = i32(c["id"]), i32(c["numero"])
        _write(out, "catalogo_areas", c)


class Feed:
    """Zenput submissions, made in date order from a seeded stream.

    ``slice(first_day, n_days, per_day)`` returns the JSONL lines of the
    submissions dated on those days plus what a correct sync of them
    loads: master rows, detail rows and the newest date.
    """

    def __init__(self, seed: int, domain: Domain):
        self.rng = np.random.default_rng([seed, 3])
        self.domain = domain
        self.next_id = 1_000_000

    def slice(self, first_day: int, n_days: int, per_day: float) -> tuple[list[str], dict]:
        rng, dom = self.rng, self.domain
        counts = rng.poisson(per_day, n_days)
        n = int(counts.sum())
        day = np.repeat(np.arange(first_day, first_day + n_days), counts)
        secs = np.sort(rng.integers(8 * 3600, 20 * 3600, n))
        loc = rng.choice(len(dom.visit_p), n, p=dom.visit_p) + 1
        sup = rng.integers(0, 12, n)
        score = np.round(np.clip(rng.normal(84.0, 9.0, n), 0, 100), 2)
        null_score = rng.random(n) < 0.02
        area_vals = np.round(rng.uniform(40.0, 100.0, (n, len(AREAS))), 2)
        titles = [f"{a} PORCENTAJE %" for a in AREAS]
        lines, newest = [], None
        for i in range(n):
            ts = dt.datetime.combine(
                EPOCH + dt.timedelta(days=int(day[i])), dt.time()
            ) + dt.timedelta(seconds=int(secs[i]))
            stamp = ts.strftime("%Y-%m-%d %H:%M:%S")
            newest = max(newest or stamp, stamp)
            answers = [{
                "field_type": "formula",
                "title": "PORCENTAJE %",
                "value": None if null_score[i] else f"{score[i]:.2f}",
            }]
            answers += [
                {"field_type": "formula", "title": t, "value": f"{v:.2f}"}
                for t, v in zip(titles, area_vals[i])
            ]
            doc = {
                "id": self.next_id + i,
                "smetadata": {
                    "location": {"id": f"LOC-{int(loc[i]):03d}"},
                    "created_by": {"display_name": f"Supervisor {int(sup[i])}"},
                    "date_submitted": stamp,
                    "lat": 25.6 + float(loc[i]) / 1000.0,
                    "lon": -100.3 - float(loc[i]) / 1000.0,
                },
                "answers": answers,
            }
            lines.append(json.dumps(doc, separators=(",", ":")))
        self.next_id += n
        return lines, {
            "master": n,
            "detail": n * len(AREAS),
            "newest": newest,
        }


def write_lines(path: str, lines: list[str]) -> int:
    """Write one landing file; returns its size in bytes."""
    data = ("\n".join(lines) + "\n").encode()
    with open(path, "wb") as f:
        f.write(data)
    return len(data)


if __name__ == "__main__":
    p = argparse.ArgumentParser(description="Refresh the vendored analytics tables.")
    p.add_argument("--vendor", metavar="SF_DIR", required=True,
                   help="test data directory to copy the tables from")
    vendor(p.parse_args().vendor)
