"""Seeded generator of GOB "ActueelEnHistorie" CSV extracts for BagJob.

The table list, the CSV header of every table and its FK and geometry
declarations come from the program's own `BagTables.loadOrder` specs (the
harness's `describe` output), so a spec that gains, loses or renames a
column makes `_value()` raise instead of writing a silently wrong extract.

`generate_base()` writes a base extract of every table with a fixed seed;
it is imported once and its committed snapshots are the state every
re-import starts from. `generate()` writes, for the tables asked for:

  load/       a fresh extract drawn from the run's seed;
  reimport/   the base rows plus fixed shares of changes drawn from the
              seed: new versions that close the previous open version,
              attribute changes on the current version, and new entities
              (nothing is deleted), except for one table (`abort_table`)
              whose re-import drops one history row, which BagJob must
              refuse;
  expected.json
              per table and phase: input rows, the loaded and rejected
              counts BagJob must report, and the planted ragged rows.

Planted defects (each on its own single-version entity, about 0.5 % of the
rows in all): invalid date ranges, bad WKT, SRID mismatches, dangling FKs,
FKs to a rejected parent row (the parent-reject cascade), and ragged rows
(a field too many or too few). A ragged row is malformed CSV: it should be
rejected, and `ragged` lets the caller tell how many of them the program
drops from both counts instead.
"""
import csv
import json
import os
import pickle
import random

# Entities per table relative to the size parameter `n` (nummeraanduiding
# entities); fixed counts for the small area tables.
ENTITIES = {
    "woonplaats": (3, 0.0), "stadsdeel": (8, 0.0), "ggw_gebied": (22, 0.0),
    "ggw_praktijkgebied": (7, 0.0), "wijk": (100, 0.0), "buurt": (480, 0.0),
    "bouwblok": (0, 0.02), "openbare_ruimte": (0, 0.012), "ligplaats": (0, 0.005),
    "standplaats": (0, 0.002), "pand": (0, 0.3), "verblijfsobject": (0, 0.85),
    "nummeraanduiding": (0, 1.0),
}
DEFECT_SHARE = 0.001      # per defect kind, of a table's rows (at least 1)
NEW_VERSION_SHARE = 0.02  # of clean entities, in the re-import
ATTR_CHANGE_SHARE = 0.02
NEW_ENTITY_SHARE = 0.01
GEMEENTE = ("0363", 1)    # the seed row BagJob commits before every table


def _geom(kind, rnd):
    x, y = 120000 + rnd.randrange(10000), 480000 + rnd.randrange(10000)
    ring = f"(({x} {y}, {x + 9} {y}, {x + 9} {y + 9}, {x} {y + 9}, {x} {y}))"
    if kind == "POINT":
        return f"POINT ({x} {y})"
    # MULTIPOLYGON columns also take a POLYGON (promoted), half the time
    if kind == "MULTIPOLYGON" and rnd.random() < 0.5:
        return f"MULTIPOLYGON ({ring})"
    return f"POLYGON {ring}"


class _Table:
    def __init__(self, spec):
        self.name = spec["name"]
        self.file = f"{spec['gob']}_{self.name}_ActueelEnHistorie.csv"
        self.header = [src for src, _ in spec["columns"]]
        self.targets = [tgt for _, tgt in spec["columns"]]
        self.geometry = spec["geometry"]
        # FK model -> (ident column index, volgnummer column index)
        self.fks = []
        for child, parent, key in spec["fks"]:
            if key != "id" or child != f"{parent}_id":
                raise ValueError(f"{self.name}: unexpected FK {child} -> {parent}.{key}")
            self.fks.append((parent, self.targets.index(f"__{parent}_ident"),
                             self.targets.index(f"__{parent}_volg")))
        # FKs whose source columns share the `adresseert:` role: a row
        # addresses exactly one of them (nummeraanduiding)
        self.one_of = [p for p, i, _ in self.fks if self.header[i].startswith("adresseert:")]


def _value(tbl, target, ent, rnd):
    """Attribute value of `target` for entity `ent` (the same in every version)."""
    n = ent
    fixed = {
        "code": f"C{n}", "cbs_code": f"WK0363{n:04d}", "documentnummer": f"GV{n:07d}",
        "__documentdatum_raw": f"2019-{1 + n % 12:02d}-{1 + n % 28:02d}",
        "status": "Naamgeving uitgegeven" if n % 7 else "Verblijfsobject in gebruik",
        "__aio_raw": "N", "__gec_raw": "J" if n % 11 == 0 else "N",
        "type": "Weg", "eigendomsverhouding": "Huur" if n % 2 else "Eigendom",
        "__oppervlakte_raw": str(20 + n % 180), "__verdieping_raw": str(n % 5),
        "__hoogste_raw": str(n % 9), "__laagste_raw": "0", "__kamers_raw": str(1 + n % 6),
        "__gebruiksdoel_raw": "woonfunctie" if n % 5 else "woonfunctie|kantoorfunctie",
        "__gd_woon_raw": "" if n % 3 else "Zelfstandige woning",
        "__gd_gezond_raw": "", "__toegang_raw": "" if n % 4 else "trap|lift",
        "__redenopvoer_raw": "Nieuwbouw" if n % 2 else "",
        "__hoofd_ident": f"0363200{n:09d}", "__hoofd_volg": "1",
        "__neven_idents": "" if n % 9 else f"0363200{n + 1:09d}|0363200{n + 2:09d}",
        "__neven_volgs": "" if n % 9 else "1|1",
        "__huisnummer_raw": str(1 + n % 300), "__huisletter_raw": "" if n % 6 else "A",
        "__toevoeging_raw": "", "postcode": f"{1011 + n % 90}{'AB' if n % 2 else 'XZ'}",
        "type_adres": "Hoofdadres",
    }
    if target in fixed:
        return fixed[target]
    if target in ("naam", "naam_nen"):
        # every tenth name needs CSV quoting (it holds the delimiter)
        naam = f"Naam {n}; hoek" if n % 10 == 0 else f"Naam {n}"
        return naam if target == "naam" else naam.upper()[:24]
    if target == "geometrie":
        return _geom(tbl.geometry, rnd)
    raise ValueError(f"{tbl.name}: no generator rule for column {target!r}")


def _ident(tbl_index, n):
    return f"0363{tbl_index + 10:02d}{n:010d}"


def _begin(v):
    return f"{2005 + 2 * v:04d}-{1 + v % 12:02d}-01"


class _Gen:
    def __init__(self, specs, seed, n, tables):
        unknown = set(tables) - {s["name"] for s in specs}
        if unknown:
            raise ValueError(f"no BagTables spec for {sorted(unknown)}")
        self.tables = [(i, _Table(s)) for i, s in enumerate(specs) if s["name"] in tables]
        self.seed, self.n = seed, n
        # per table: accepted (ident, volg) and rejected (ident, volg) rows
        self.accepted = {"gemeente": [GEMEENTE]}
        self.rejected = {"gemeente": []}

    def rnd(self, *key):
        return random.Random("/".join(str(k) for k in (self.seed, self.n) + key))

    def row(self, tbl, ti, ent, ver, eind, rnd, refs=None):
        ident = _ident(ti, ent)
        out = []
        for target in tbl.targets:
            if target == "identificatie":
                out.append(ident)
            elif target == "volgnummer":
                out.append(str(ver))
            elif target == "registratiedatum":
                out.append(_begin(ver) + f"T{8 + ent % 10:02d}:00:00")
            elif target == "begin_geldigheid":
                out.append(_begin(ver))
            elif target == "eind_geldigheid":
                out.append(eind)
            elif target.startswith("__") and (target.endswith("_ident") or target.endswith("_volg")) \
                    and target[2:].rsplit("_", 1)[0] in [p for p, _, _ in tbl.fks]:
                out.append("")  # filled below
            else:
                out.append(_value(tbl, target, ent, rnd))
        for parent, ii, vi in tbl.fks:
            ref = (refs or {}).get(parent)
            if ref is not None:
                out[ii] = ref[0]
                # a reference to version 1 may leave the volgnummer empty
                out[vi] = "" if ref[1] == 1 and ent % 3 == 0 else str(ref[1])
        return out

    def pick_refs(self, tbl, rnd):
        """Valid references to accepted parent rows. A parent table left
        out of the extract gets none: a null FK passes the check."""
        present = [p for p in tbl.one_of if self.accepted.get(p)]
        addressed = rnd.choice(present) if present else None
        if "verblijfsobject" in present and rnd.random() < 0.9:
            addressed = "verblijfsobject"
        refs = {}
        for parent, _, _ in tbl.fks:
            if not self.accepted.get(parent) or (parent in tbl.one_of and parent != addressed):
                continue
            refs[parent] = rnd.choice(self.accepted[parent])
        return refs

    def table(self, ti, tbl):
        base, per_n = ENTITIES[tbl.name]
        ents = max(base, int(self.n * per_n), 3)
        rnd = self.rnd(tbl.name)
        rows, clean = [], []   # clean: entity -> list of versions (row index)
        for e in range(ents):
            k = 1 + (rnd.random() < 0.25) + (rnd.random() < 0.05)
            refs = self.pick_refs(tbl, rnd) if tbl.fks else None
            idx = []
            for v in range(1, k + 1):
                eind = _begin(v + 1) if v < k else ""
                idx.append(len(rows))
                rows.append(self.row(tbl, ti, e, v, eind, rnd, refs))
            clean.append((e, idx))
        accepted = [(_ident(ti, e), v + 1) for e, idx in clean for v in range(len(idx))]

        kinds = ["invalid_date_range"]
        if tbl.geometry:
            kinds += ["invalid_geometry", "srid_mismatch"]
        if tbl.fks:
            kinds.append("fk_dangling")
            if any(self.rejected.get(p) for p, _, _ in tbl.fks):
                kinds.append("fk_cascade")
        per_kind = max(1, int(len(rows) * DEFECT_SHARE))
        defects, rejected, ragged = [], [], 0
        e = ents
        for kind in kinds + ["ragged"]:
            for _ in range(per_kind):
                refs = self.pick_refs(tbl, rnd) if tbl.fks else None
                if kind == "fk_dangling":
                    parent = next((p for p, _, _ in tbl.fks if p in self.accepted),
                                  tbl.fks[0][0])
                    refs[parent] = (f"0363990{e:09d}", 1)
                elif kind == "fk_cascade":
                    parent = next(p for p, _, _ in tbl.fks if self.rejected.get(p))
                    refs[parent] = rnd.choice(self.rejected[parent])
                r = self.row(tbl, ti, e, 1, "", rnd, refs)
                if kind == "invalid_date_range":
                    r[tbl.targets.index("begin_geldigheid")] = "2021-06-01"
                    r[tbl.targets.index("eind_geldigheid")] = "2020-01-01"
                elif kind == "invalid_geometry":
                    r[tbl.targets.index("geometrie")] = "POLYGON ((0 0, 1"
                elif kind == "srid_mismatch":
                    r[tbl.targets.index("geometrie")] = "SRID=4326;POINT (4.9 52.37)" \
                        if tbl.geometry == "POINT" else "SRID=4326;" + _geom(tbl.geometry, rnd)
                if kind == "ragged":
                    r = r + ["extra"] if e % 2 else r[:-1]
                    ragged += 1
                else:
                    rejected.append((_ident(ti, e), 1))
                defects.append(r)
                e += 1
        self.accepted[tbl.name] = accepted
        self.rejected[tbl.name] = rejected
        return rows, clean, defects, {k: per_kind for k in kinds}, ragged, e

    def reimport(self, ti, tbl, rows, clean, next_ent, rnd):
        """Re-import rows: every load row, then changes on clean entities."""
        rows = [list(r) for r in rows]
        picks = rnd.sample(range(len(clean)), len(clean))
        nv = int(len(clean) * NEW_VERSION_SHARE)
        na = int(len(clean) * ATTR_CHANGE_SHARE)
        new_versions, changed = picks[:nv], picks[nv:nv + na]
        added = []
        ei, bi = tbl.targets.index("eind_geldigheid"), tbl.targets.index("begin_geldigheid")
        for c in new_versions:
            ent, idx = clean[c]
            last = rows[idx[-1]]
            v = len(idx) + 1
            last[ei] = _begin(v)            # close the open version ...
            new = list(last)                # ... and open the next one
            new[tbl.targets.index("volgnummer")] = str(v)
            new[bi], new[ei] = _begin(v), ""
            new[tbl.targets.index("registratiedatum")] = _begin(v) + "T09:00:00"
            added.append(new)
        attr = next(t for t in ("status", "naam", "documentnummer", "code")
                    if t in tbl.targets)
        ai = tbl.targets.index(attr)
        for c in changed:
            rows[clean[c][1][-1]][ai] += " gewijzigd"
        ne = int(len(clean) * NEW_ENTITY_SHARE)
        for e in range(next_ent, next_ent + ne):
            refs = self.pick_refs(tbl, rnd) if tbl.fks else None
            added.append(self.row(tbl, ti, e, 1, "", rnd, refs))
        return rows + added, {"new_versions": nv, "attribute_changes": na, "new_entities": ne}


def _write(path, header, rows):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w", encoding="utf-8-sig", newline="") as f:
        w = csv.writer(f, delimiter=";", quotechar='"', quoting=csv.QUOTE_MINIMAL,
                       lineterminator="\n")
        w.writerow(header)
        w.writerows(rows)


BASE_SEED = "base"


def generate_base(specs, n, out):
    """Write the base extract of every table (fixed seed) to `out/extract`,
    its expected counts to `out/expected.json` and the generator state the
    seeded re-imports are derived from to `out/state.pkl`."""
    g = _Gen(specs, BASE_SEED, n, [s["name"] for s in specs])
    expected, state = {}, {}
    for ti, tbl in g.tables:
        rows, clean, defects, planted, ragged, next_ent = g.table(ti, tbl)
        load = rows + defects
        g.rnd(tbl.name, "order").shuffle(load)
        _write(os.path.join(out, "extract", tbl.file), tbl.header, load)
        expected[tbl.name] = {"input": len(load), "loaded": len(rows),
                              "rejected": sum(planted.values()), "ragged": ragged}
        state[tbl.name] = (rows, clean, defects, expected[tbl.name], next_ent)
    with open(os.path.join(out, "state.pkl"), "wb") as f:
        pickle.dump({"tables": state, "accepted": g.accepted}, f)
    with open(os.path.join(out, "expected.json"), "w") as f:
        json.dump(expected, f, indent=1, sort_keys=True)
    return expected


def generate(specs, tables, seed, n, out, base, abort_table):
    """Write, for `tables` (in spec order) at size `n` under `out`:
    load/ drawn from `seed`, imported into an empty output dir; and
    reimport/, the base rows (`base` as `generate_base` wrote it) with
    changes drawn from `seed`, re-imported over the committed base. The
    re-import of `abort_table` drops one history row instead, so BagJob
    must abort that table. Returns (and writes) the expected counts."""
    g = _Gen(specs, seed, n, tables)
    with open(os.path.join(base, "state.pkl"), "rb") as f:
        state = pickle.load(f)
    bg = _Gen(specs, BASE_SEED, n, tables)
    bg.accepted = state["accepted"]
    expected = {"seed": seed, "n": n, "tables": {}}
    no_changes = {"new_versions": 0, "attribute_changes": 0, "new_entities": 0}
    for ti, tbl in g.tables:
        rows, clean, defects, planted, ragged, next_ent = g.table(ti, tbl)
        load = rows + defects
        g.rnd(tbl.name, "order").shuffle(load)
        _write(os.path.join(out, "load", tbl.file), tbl.header, load)

        b_rows, b_clean, b_defects, b_exp, b_next = state["tables"][tbl.name]
        if tbl.name == abort_table:
            re_rows, changes = b_rows[1:], no_changes
        else:
            re_rows, changes = bg.reimport(ti, tbl, b_rows, b_clean, b_next,
                                           g.rnd(tbl.name, "reimport"))
        again = re_rows + b_defects
        g.rnd(tbl.name, "reorder").shuffle(again)
        _write(os.path.join(out, "reimport", tbl.file), tbl.header, again)
        reimport = {"input": len(again), "rejected": b_exp["rejected"],
                    "ragged": b_exp["ragged"],
                    "loaded": b_exp["loaded"] + changes["new_versions"]
                    + changes["new_entities"]}
        if tbl.name == abort_table:
            # BagJob reports an aborted table as loaded=0
            reimport.update(loaded=0, aborted="deleted_history_rows:1")
        expected["tables"][tbl.name] = {
            "planted": planted, "changes": changes,
            "load": {"input": len(load), "loaded": len(rows),
                     "rejected": sum(planted.values()), "ragged": ragged},
            "reimport": reimport,
        }
    expected["changed_rows"] = sum(
        2 * t["changes"]["new_versions"] + t["changes"]["attribute_changes"]
        + t["changes"]["new_entities"] for t in expected["tables"].values())
    with open(os.path.join(out, "expected.json"), "w") as f:
        json.dump(expected, f, indent=1, sort_keys=True)
    return expected
