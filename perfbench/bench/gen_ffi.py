"""Seeded synthetic FFI exports for the `ffi_export` workload.

One batch is a sequence of exports from several registration (admin)
units. A unit's first export is its base; its later exports are revisions
that repeat every plot, event and tree already exported (some with changed
values, which the insert-only MERGE must leave untouched) and add new
events with new trees (which it must insert). Units are small or large, so
the batch mixes per-export fixed cost with scan cost.

The benchmark's batch is three exports: a small base export (~2 MB), a
large one (~10 MB) and a revision of the small one (~2.9 MB). The engine
runs ~100 Spark jobs per export whatever its size. On a 4-core VM a small
export loads in ~8.5 s (extract ~1.4 s) and the large one in ~12.5 s
(extract ~2.8 s: each row tag's read rescans the whole file), so the pair
separates the fixed per-export cost from the scan cost. A batch takes
~30 s and a run measures one; a larger or longer batch would not fit the
benchmark's time budget.

The generator also writes what the loader needs and what the checker
compares against: the Derby DDL, the table/field `Mapping`, and the
ground truth after every export (row count and an order-independent
checksum per target table). The ground truth is derived from the
generator's own model of the pipeline's rules, never from the engine.
"""

import hashlib
import json
import os
import random

NS = "http://ffi.example/v1"

# Target tables in FK order, with their columns (all VARCHAR, first is PK).
TABLES = [
    ("PLOT", ["PLOTID", "PLOTNAME", "ADMINUNIT", "ELEVATION", "DATEIN"]),
    ("EVENT", ["EVENTID", "PLOTID", "EVENTDATE", "EVENTGUID"]),
    ("TREE", ["TREEID", "EVENTID", "TAGNO", "SPECIES", "DBH", "STEMNUM"]),
]

DDL = [
    "CREATE TABLE PLOT (PLOTID VARCHAR(64) PRIMARY KEY, PLOTNAME VARCHAR(128),"
    " ADMINUNIT VARCHAR(128), ELEVATION VARCHAR(32), DATEIN VARCHAR(32))",
    "CREATE TABLE EVENT (EVENTID VARCHAR(80) PRIMARY KEY,"
    " PLOTID VARCHAR(64) REFERENCES PLOT (PLOTID), EVENTDATE VARCHAR(32),"
    " EVENTGUID VARCHAR(64))",
    "CREATE TABLE TREE (TREEID VARCHAR(64) PRIMARY KEY,"
    " EVENTID VARCHAR(80) REFERENCES EVENT (EVENTID), TAGNO VARCHAR(16),"
    " SPECIES VARCHAR(16), DBH VARCHAR(16), STEMNUM VARCHAR(8))",
]

MAPPING = {
    "tableMap": {
        "MacroPlot": "Plot",
        "SampleEvent": "Event",
        "Trees_Individuals_Attribute": "Tree",
    },
    "fieldMap": {
        "Plot": [["PlotID", "PlotID"], ["PlotName", "MacroPlot_Name"],
                 ["AdminUnit", "AdminUnit"], ["Elevation", "MacroPlot_Elevation"],
                 ["DateIn", "MacroPlot_DateIn"]],
        "Event": [["EventID", "EventID"], ["PlotID", "PlotID"],
                  ["EventDate", "SampleEvent_Date"], ["EventGUID", "SampleEvent_GUID"]],
        "Tree": [["TreeID", "AttributeData_DataRow_GUID"], ["EventID", "EventID"],
                 ["TagNo", "TagNo"], ["Species", "Species"], ["DBH", "DBH"],
                 ["StemNum", "StemNum"]],
    },
}

# Batch shape for the benchmark run, and the warm-up batch: one tiny export,
# since set-up only needs every code path run once.
BATCH = dict(n_small=1, n_large=1, small_plots=250, large_plots=1250, revisions=1)
WARMUP = dict(n_small=1, n_large=0, small_plots=10, large_plots=0, revisions=0)

SPECIES = ["PIPO", "PSME", "ABCO", "PICO", "QUKE", "JUOC", "LAOC", "PIJE",
           "CADE", "ABMA", "PILA", "TSHE"]

WORDS = ["Ridge", "Creek", "Meadow", "Canyon", "Flat", "Pine", "Oak", "Bluff",
         "Spring", "Basin", "Fork", "Mesa"]


def clean_name(s):
    """FfiIdents.cleanName: drop ' ', '_', '-', '.' and uppercase."""
    return "".join(ch for ch in s if ch not in " _-.").upper()


def row_checksum(values):
    """First 8 bytes of MD5 over the row's values joined by U+001F (null
    as \\N), as an unsigned 64-bit integer. A table's checksum is the sum
    of its rows' checksums modulo 2**64, so it ignores row order."""
    s = "\x1f".join("\\N" if v is None else v for v in values)
    return int.from_bytes(hashlib.md5(s.encode("utf-8")).digest()[:8], "big")


def table_checksum(rows):
    return sum(row_checksum(r) for r in rows) % (1 << 64)


class Unit:
    """One registration unit and everything exported from it so far."""

    def __init__(self, idx, rng, n_plots, trees_per_event):
        self.idx = idx
        self.name = f"U{idx:02d} {rng.choice(WORDS)} Unit"
        self.guid = f"ru-{idx:03d}"
        self.trees_per_event = trees_per_event
        self.plots = []  # dicts: guid, name, elevation, date_in
        self.events = []  # dicts: guid, plot, date
        self.trees = []  # dicts: guid, event, tag, spp, dbh
        self.next_day = {}  # plot guid -> next free day offset
        for p in range(n_plots):
            guid = f"mp-{idx:03d}-{p:04d}"
            self.plots.append({
                "guid": guid,
                "name": f"Plot {p:04d}",
                "elevation": str(rng.randint(800, 3200)),
                "date_in": f"20{rng.randint(10, 19)}-0{rng.randint(1, 9)}-1{rng.randint(0, 9)}T0{rng.randint(0, 9)}:00:00",
            })
            self.next_day[guid] = rng.randint(0, 40)

    def add_events(self, rng, share):
        """One new event for a seeded `share` of the plots, each with trees."""
        chosen = set(rng.sample(range(len(self.plots)), round(share * len(self.plots))))
        for i, plot in enumerate(self.plots):
            if i not in chosen:
                continue
            day = self.next_day[plot["guid"]]
            self.next_day[plot["guid"]] = day + rng.randint(1, 30)
            year, doy = 2015 + day // 300, day % 300
            date = f"{year}-{1 + doy // 28:02d}-{1 + doy % 28:02d}T08:30:00"
            ev = {"guid": f"se-{self.idx:03d}-{len(self.events):06d}", "plot": plot, "date": date}
            self.events.append(ev)
            n = max(1, int(rng.gauss(self.trees_per_event, self.trees_per_event / 4)))
            for t in range(n):
                # about one tree in eight is a further stem of the previous tag
                if t > 0 and rng.random() < 0.125:
                    prev = self.trees[-1]
                    tag, spp = prev["tag"], prev["spp"]
                else:
                    tag, spp = str(t + 1), rng.randrange(len(SPECIES))
                self.trees.append({
                    "guid": f"dr-{self.idx:03d}-{len(self.trees):07d}",
                    "event": ev, "tag": tag, "spp": spp,
                    "dbh": f"{rng.uniform(1.0, 90.0):.1f}",
                })

    def revise(self, rng):
        """Change some values already exported; the MERGE keeps the old ones."""
        for plot in self.plots:
            if rng.random() < 0.2:
                plot["elevation"] = str(int(plot["elevation"]) + rng.randint(1, 50))
        for tree in self.trees:
            if rng.random() < 0.1:
                tree["dbh"] = f"{float(tree['dbh']) + rng.uniform(0.1, 3.0):.1f}"


def _el(tag, fields):
    inner = "".join(f"<{k}>{v}</{k}>" for k, v in fields)
    return f"  <{tag}>{inner}</{tag}>\n"


def render(unit):
    """The unit's current state as one FFI export document."""
    out = [f'<?xml version="1.0" encoding="UTF-8"?>\n<FFIData xmlns="{NS}">\n',
           _el("Schema_Version", [("Schema_Version", "6.05")]),
           _el("RegistrationUnit", [("RegistrationUnit_GUID", unit.guid),
                                    ("RegistrationUnit_Name", unit.name)])]
    for p in unit.plots:
        out.append(_el("MacroPlot", [
            ("MacroPlot_GUID", p["guid"]), ("MacroPlot_Name", p["name"]),
            ("MacroPlot_RegistrationUnit_GUID", unit.guid),
            ("MacroPlot_Elevation", p["elevation"]), ("MacroPlot_DateIn", p["date_in"])]))
    for e in unit.events:
        out.append(_el("SampleEvent", [
            ("SampleEvent_GUID", e["guid"]), ("SampleEvent_Plot_GUID", e["plot"]["guid"]),
            ("SampleEvent_Date", e["date"])]))
    out.append(_el("ProjectUnit", [("ProjectUnit_GUID", f"pu-{unit.idx:03d}"),
                                   ("ProjectUnit_Name", f"Fuels Project_{unit.idx}")]))
    out.append(_el("MonitoringStatus", [
        ("MonitoringStatus_GUID", f"ms-{unit.idx:03d}"),
        ("MonitoringStatus_ProjectUnit_GUID", f"pu-{unit.idx:03d}"),
        ("MonitoringStatus_Name", "01Pre"), ("MonitoringStatus_Prefix", "01"),
        ("MonitoringStatus_Base", "Pre"), ("MonitoringStatus_Suffix", "Immediate")]))
    for e in unit.events:
        out.append(_el("MM_MonitoringStatus_SampleEvent", [
            ("MM_MonitoringStatus_GUID", f"ms-{unit.idx:03d}"),
            ("MM_SampleEvent_GUID", e["guid"])]))
    for i, sym in enumerate(SPECIES):
        out.append(_el("LocalSpecies", [("LocalSpecies_GUID", f"ls-{i:02d}"),
                                        ("LocalSpecies_Symbol", sym)]))
    out.append(_el("Method", [("Method_GUID", "m-1"), ("Method_Name", "Trees - Individuals"),
                              ("Method_UnitSystem", "English")]))
    for att_id, field in ((11, "TagNo"), (12, "Spp"), (13, "DBH")):
        out.append(_el("MethodAttribute", [("MethodAtt_ID", att_id),
                                           ("MethodAtt_Method_GUID", "m-1"),
                                           ("MethodAtt_FieldName", field)]))
    out.append(_el("SampleAttribute", [("SampleAtt_ID", 31), ("SampleAtt_Method_GUID", "m-1"),
                                       ("SampleAtt_FieldName", "FieldTeam")]))
    # one sample row per event links that event's trees to it
    for i, e in enumerate(unit.events):
        out.append(_el("SampleRow", [("SampleRow_ID", i + 1),
                                     ("SampleRow_Original_GUID", f"sr-{e['guid']}")]))
    for i, e in enumerate(unit.events):
        out.append(_el("SampleData", [
            ("SampleData_SampleRow_ID", i + 1), ("SampleData_SampleEvent_GUID", e["guid"]),
            ("SampleData_SampleAtt_ID", 31), ("SampleData_Value", "Crew A")]))
    sample_row = {e["guid"]: i + 1 for i, e in enumerate(unit.events)}
    for i, t in enumerate(unit.trees):
        out.append(_el("AttributeRow", [("AttributeRow_ID", i + 1),
                                        ("AttributeRow_DataRow_GUID", t["guid"])]))
    for i, t in enumerate(unit.trees):
        sr = sample_row[t["event"]["guid"]]
        for att_id, val in ((11, t["tag"]), (12, f"ls-{t['spp']:02d}"), (13, t["dbh"])):
            out.append(_el("AttributeData", [
                ("AttributeData_DataRow_ID", i + 1), ("AttributeData_MethodAtt_ID", att_id),
                ("AttributeData_SampleRow_ID", sr), ("AttributeData_Value", val)]))
    out.append("</FFIData>\n")
    return "".join(out)


def expected_rows(unit):
    """The target rows one export of the unit yields, per table, keyed by PK."""
    admin = unit.name
    prefix = clean_name(admin)[:5]
    plots, events, trees = {}, {}, {}
    plot_id = {}
    for p in unit.plots:
        pid = prefix + clean_name(p["name"])
        plot_id[p["guid"]] = pid
        plots[pid] = (pid, p["name"], admin, p["elevation"], p["date_in"] + ".000")
    event_id = {}
    for e in unit.events:
        pid = plot_id[e["plot"]["guid"]]
        eid = pid + e["date"][:10].replace("-", "")
        event_id[e["guid"]] = eid
        events[eid] = (eid, pid, e["date"] + ".000", e["guid"].upper())
    stems = {}
    for t in unit.trees:
        eid = event_id[t["event"]["guid"]]
        key = (eid, t["spp"], t["tag"])
        stems[key] = stems.get(key, 0) + 1
        tid = t["guid"].upper()
        trees[tid] = (tid, eid, t["tag"], SPECIES[t["spp"]], t["dbh"], str(stems[key]))
    return {"PLOT": plots, "EVENT": events, "TREE": trees}


def batch_plan(n_small, n_large, revisions):
    """Unit sizes and the export order: every unit's base export, small
    ones first, then `revisions` revision exports of small units in turn.
    The order is fixed so that the batch's cost does not depend on the
    seed; the seed decides the exports' contents."""
    sizes = ["small"] * n_small + ["large"] * n_large
    small = [u for u, size in enumerate(sizes) if size == "small"]
    revs = [small[i % len(small)] for i in range(revisions)] if small else []
    return sizes, list(range(len(sizes))) + revs


def generate(out_dir, seed, n_small, n_large, small_plots, large_plots,
             trees_per_event=8, revisions=1):
    """Writes export_NNN.xml files plus ffi_batch.json into `out_dir`.
    Returns the batch description (also what ffi_batch.json holds)."""
    rng = random.Random(seed)
    os.makedirs(out_dir, exist_ok=True)
    sizes, order = batch_plan(n_small, n_large, revisions)
    units = []
    for i, size in enumerate(sizes):
        n = small_plots if size == "small" else large_plots
        units.append(Unit(i, rng, n, trees_per_event))
    state = {name: {} for name, _ in TABLES}
    exports = []
    seen = set()
    for k, u in enumerate(order):
        unit = units[u]
        revision = u in seen
        if revision:
            unit.revise(rng)
            unit.add_events(rng, 0.5)
        else:
            unit.add_events(rng, 1.0)
            seen.add(u)
        name = f"export_{k:03d}.xml"
        data = render(unit).encode("utf-8")
        with open(os.path.join(out_dir, name), "wb") as f:
            f.write(data)
        yielded = expected_rows(unit)
        for table, rows in yielded.items():
            for pk, row in rows.items():
                state[table].setdefault(pk, row)  # insert-only MERGE: first load wins
        exports.append({
            "file": name,
            "bytes": len(data),
            "rows": sum(len(r) for r in yielded.values()),
            "size": sizes[u],
            "revision": revision,
            "expected": {t: {"rows": len(state[t]),
                             "checksum": str(table_checksum(state[t].values()))}
                         for t, _ in TABLES},
        })
    batch = {"seed": seed, "ddl": DDL, "tables": [[t, c] for t, c in TABLES],
             "mapping": MAPPING, "exports": exports}
    with open(os.path.join(out_dir, "ffi_batch.json"), "w") as f:
        json.dump(batch, f, indent=1, sort_keys=True)
    return batch
