#!/usr/bin/env python3
"""Seeded OSM v0.6 extract + official street-name list, with a manifest.

Writes, under <outDir>:
  map.osm       one OSM v0.6 XML file (nodes, ways, relations)
  official.xml  the Lands Department street-list shape (<Root><Row>...)
  manifest.json counts known by construction, and a digest of the rows
                the fixed tag tables and update_history must hold (see
                `Extract.manifest`)

The data exercises every quirk the wrangling pipeline handles:
  - ordered <nd> refs (closed ways repeat their first node) and ordered
    <relation> members, some with an empty role;
  - colon keys (addr:housenumber, name:zh:pinyin, contact:phone) and keys with
    a PROBLEMCHARS character, which the pipeline drops;
  - street ways whose name / name:en / name:zh disagree with the list:
    wrong case, a missing version, a stale Chinese name, two entries in
    conflict, a repeated name:en tag, names the list does not know;
  - every phone format of the canonicalisation table, canonical values
    that must stay unchanged, and non-phone values under phone keys;
  - repeated phone-key tags, where the last one decides the element's
    update flag (the last-writer-wins quirk);
  - a list with null Chinese names, a row missing its district code,
    exact duplicates, English and Chinese conflicts, the hand-corrected
    entries and the excluded Shenzhen streets.

Nothing is read from outside; the same seed gives byte-identical files.

Usage: python3 perfbench/gen_osm.py <outDir> <seed> [nodes=16000]
"""
import hashlib
import json
import random
import string
import sys
from pathlib import Path
from xml.sax.saxutils import escape

PHONE_KEYS = {"phone", "fax", "whatsapp", "mobile", "telephone", "operator",
              "source"}
PROBLEM_CHARS = set("=+/&<>;'\"?%#$@,. \t\r\n")
STREET_VALUES = ["motorway", "trunk", "primary", "secondary", "tertiary",
                 "residential", "living_street", "pedestrian", "track",
                 "road", "steps", "path"]
OTHER_HIGHWAYS = ["footway", "service", "cycleway", "bus_stop"]

EN_SYLLABLES = ("KUNG KOK SHA TIN WAI HING LOK FU TAI PO SHEK MUN YAU MA WO "
                "CHE KAM LUNG HANG SAN ON YUEN CHUNG TSUEN KWAI TSING YI HO "
                "LEI PAK").split()
EN_SUFFIXES = ["STREET", "ROAD", "LANE", "PATH", "AVENUE", "TERRACE",
               "DRIVE"]
ZH_CHARS = list("亞公角沙田圍興樂富民大埔石門油馬窩車金龍坑新安源涌村葵青衣河李北")
ZH_SUFFIXES = list("街路里徑道台")
# names the list never contains: syllables and characters outside the pools
UNKNOWN_EN = ["Qix", "Vorn", "Zell", "Jupe"]
UNKNOWN_ZH = list("鑫淼焱垚")
STALE_ZH = "舊"

# (ENG as published, CHI) rows whose clean form the pipeline hand-corrects,
# and the Shenzhen streets it excludes after correction
CORRECTED_ROWS = [("D'AGUILAR STREET", "德己立街", "D'Aguilar Street", "德己立街"),
                  ("BOULEVARD DE CASCADE", "瀑布大道", "Boulevard de Cascade",
                   "瀑布大道"),
                  ("HAVEN OF HOPE ROAD", "寶康路", "Haven of Hope Road", "寶康路"),
                  ("MID-LEVELS WALK", "半山徑　", "Mid-levels Walk", "半山徑")]
SHENZHEN_ROWS = [("MAN CHEONG STREET", "文昌街"), ("FUK MAN ROAD", "福民路")]

AMENITIES = ["restaurant", "cafe", "bank", "school", "clinic", "pharmacy",
             "post_office", "library"]
USERS = ["mapper", "survey_hk", "港島測繪", "Ana Müller", "A&B Survey",
         "night_owl", "trail-walker"]


def capwords(s):
    return string.capwords(s)


def key_of(k):
    """The tag key after the first-colon split (`name:zh` -> `zh`)."""
    return k.split(":", 1)[1] if ":" in k else k


def dropped(k):
    return any(c in PROBLEM_CHARS for c in k)


def phone_sample(rng):
    """One phone-like value and the value the canonicalisation must give
    (FIXTURES.md section 4 formats, fresh digits each time)."""
    hk = rng.choice("235689") + "".join(rng.choice(string.digits)
                                        for _ in range(7))
    cell = "1" + rng.choice("3456789") + "".join(
        rng.choice(string.digits) for _ in range(9))
    sz = "".join(rng.choice(string.digits) for _ in range(8))
    s = "852" + hk
    hk2 = rng.choice("235689") + "".join(rng.choice(string.digits)
                                         for _ in range(7))
    forms = [
        (f"{hk[:4]} {hk[4:]}", f"+852 {hk}"),
        (f"+ 852 {hk[:4]} {hk[4:]}", f"+852 {hk}"),
        (f"+852{hk}", f"+852 {hk}"),
        (f"(+852) {hk[:4]} {hk[4:]}", f"+852 {hk}"),
        (f"852-{hk[:4]}-{hk[4:]}", f"+852 {hk}"),
        (f"+85 {s[2:4]} {s[4:6]} {s[6:]}", f"+852 {hk}"),
        (f"＋852 {hk[:4]} {hk[4:]}", f"+852 {hk}"),
        (f"+852 {hk}, +852 {hk2}", f"+852 {hk};+852 {hk2}"),
        (f"+86{cell}", f"+86 {cell}"),
        (cell, f"+86 {cell}"),
        (f"+86 0755-{sz}", f"+86 755 {sz}"),
        (f"0755 {sz[:4]} {sz[4:]}", f"+86 755 {sz}"),
        # already canonical, or not a HK/PRC number: left unchanged
        (f"+852 {hk}", f"+852 {hk}"),
        (f"+852 {hk};+852 {hk2}", f"+852 {hk};+852 {hk2}"),
        (f"+86 755 {sz}", f"+86 755 {sz}"),
        ("+41 44 586 00 04", "+41 44 586 00 04"),
    ]
    return rng.choice(forms)


class Extract:
    def __init__(self, seed, n_nodes):
        self.rng = random.Random(f"osm:{seed}")
        self.seed = seed
        self.n_nodes = n_nodes
        self.users = []
        self.nodes = []      # (attrs, tags)
        self.ways = []       # (attrs, nds, tags)
        self.relations = []  # (attrs, members, tags)
        # by-construction expectations
        self.phone_rewrites = 0
        self.phone_updated = {"node": set(), "way": set()}
        self.name_updated = set()
        self.appended = 0
        # (kind, id, tag index) -> the value the phone fix must write
        self.phone_fixed = {}
        # street way id -> (eng, chi) of the one list entry it matches, for
        # the ways the street-name fix rewrites
        self.street_canon = {}
        self.official_rows = []
        self.lookup = []     # corrected (eng, chi) entries usable by ways

    # ---- official list ---------------------------------------------------
    def make_official(self, n_entries):
        rng = self.rng
        eng_seen, chi_seen, good = set(), set(), []
        while len(good) < n_entries:
            eng = " ".join(rng.choice(EN_SYLLABLES)
                           for _ in range(rng.randint(2, 3)))
            eng += " " + rng.choice(EN_SUFFIXES)
            chi = "".join(rng.choice(ZH_CHARS)
                          for _ in range(rng.randint(2, 3)))
            chi += rng.choice(ZH_SUFFIXES)
            if eng in eng_seen or chi in chi_seen:
                continue
            eng_seen.add(eng)
            chi_seen.add(chi)
            good.append((eng, chi))
        # conflicts: one English name with two Chinese names and the
        # reverse; both rows of each pair leave the clean list
        conflict_en, conflict_zh, extra = good[-4:-2], good[-2:], []
        for eng, chi in conflict_en:
            extra.append((eng, chi + "東"))
        for eng, chi in conflict_zh:
            extra.append(("WEST " + eng, chi))
        usable = good[:-4]
        self.n_usable = len(usable)
        rows = [(e, c, rng.choice(["ST", "TP", "YL", "KC"])) for e, c in good]
        rows += [(e, c, "ST") for e, c in extra]
        rows += [(e, c, "CW") for e, c, _, _ in CORRECTED_ROWS]
        rows += [(e, c, "SZ") for e, c in SHENZHEN_ROWS]
        # exact duplicates collapse to one row
        rows += [(e, c, d) for e, c, d in rng.sample(rows[:len(usable)], 5)]
        # null Chinese names and a row without a district code
        rows += [("NULL NAME ROAD " + str(i), None, "ST") for i in range(3)]
        rows.append(("NO DISTRICT LANE", "無區里", None))
        rng.shuffle(rows)
        self.official_rows = rows
        self.lookup = [(capwords(e), c) for e, c in usable]
        self.lookup += [(ce, cc) for _, _, ce, cc in CORRECTED_ROWS]

    # ---- elements ----------------------------------------------------------
    def make_users(self, n):
        rng = self.rng
        uids = rng.sample(range(1000, 9_000_000), n)
        for i, uid in enumerate(uids):
            base = USERS[i % len(USERS)]
            self.users.append((f"{base}{i}" if i >= len(USERS) else base,
                               str(uid)))

    def meta(self, i, id_):
        rng = self.rng
        user, uid = self.users[rng.randrange(len(self.users))
                               if rng.random() < 0.7
                               else rng.randrange(min(8, len(self.users)))]
        ts = (f"20{rng.randint(10, 17)}-{rng.randint(1, 12):02d}-"
              f"{rng.randint(1, 28):02d}T{rng.randint(0, 23):02d}:"
              f"{rng.randint(0, 59):02d}:{rng.randint(0, 59):02d}Z")
        return {"id": str(id_), "visible": "true",
                "version": str(rng.randint(1, 12)),
                "changeset": str(rng.randint(1_000_000, 50_000_000)),
                "timestamp": ts, "user": user, "uid": uid}

    def phone_tags(self, kind, id_, tags):
        """Append 1-3 phone-key tags; the last phone-key tag decides the
        element's update flag."""
        rng = self.rng
        last_changed = None
        for _ in range(rng.choice([1, 1, 1, 2, 3])):
            key = rng.choice(["phone", "phone", "fax", "contact:phone",
                              "mobile"])
            value, fixed = phone_sample(rng)
            self.phone_fixed[(kind, id_, len(tags))] = fixed
            tags.append((key, value))
            self.phone_rewrites += value != fixed
            last_changed = value != fixed
        if rng.random() < 0.25:
            # a non-phone value under a phone key, after the phones: it
            # is unchanged, so it resets the element's flag
            tags.append(rng.choice([("source", "survey"),
                                    ("operator", "MTR Corporation")]))
            last_changed = False
        if last_changed:
            self.phone_updated[kind].add(id_)

    def extra_tags(self, tags):
        rng = self.rng
        if rng.random() < 0.3:
            tags.append(("addr:housenumber", str(rng.randint(1, 300))))
        if rng.random() < 0.05:
            tags.append((rng.choice(["odd=key", "note.1", "bad key",
                                     "fixme?"]), "dropped"))
        if rng.random() < 0.1:
            tags.append(("name:zh:pinyin", "pinyin"))

    def make_nodes(self):
        rng = self.rng
        nid = 10_000_000
        for i in range(self.n_nodes):
            nid += rng.randint(1, 9)
            attrs = self.meta(i, nid)
            attrs["lat"] = f"{22.2 + rng.random() * 0.3:.7f}"
            attrs["lon"] = f"{114.0 + rng.random() * 0.3:.7f}"
            tags = []
            if rng.random() < 0.3:
                tags.append(("amenity", rng.choice(AMENITIES)))
                if rng.random() < 0.7:
                    eng, chi = rng.choice(self.lookup)
                    tags.append(("name", f"{chi} {eng}"))
                    tags.append(("name:en", eng))
                if rng.random() < 0.45:
                    self.phone_tags("node", str(nid), tags)
                self.extra_tags(tags)
                if rng.random() < 0.05:
                    # a phone-shaped value under a non-phone key: audited,
                    # never rewritten
                    tags.append(("note", phone_sample(rng)[0]))
            self.nodes.append((attrs, tags))

    def street_tags(self, wid, tags):
        """Name tags of one street way, by category; records whether the
        street-name fix must update the way and how many tags it appends."""
        rng = self.rng
        eng, chi = rng.choice(self.lookup)
        cat = rng.choice("AABCDEFGHI")
        updated, appended = False, 0
        if cat == "A":    # consistent with the list
            tags += [("name", f"{chi} {eng}"), ("name:en", eng),
                     ("name:zh", chi)]
        elif cat == "B":  # English in the wrong case
            tags += [("name", f"{chi} {eng}"), ("name:en", eng.upper()),
                     ("name:zh", chi)]
            updated = True
        elif cat == "C":  # English version missing
            tags += [("name", f"{chi} {eng}"), ("name:zh", chi)]
            updated, appended = True, 1
        elif cat == "D":  # only the English version
            tags += [("name:en", eng)]
            updated, appended = True, 2
        elif cat == "E":  # versions name two different entries
            eng2, chi2 = rng.choice([e for e in self.lookup
                                     if e != (eng, chi)])
            tags += [("name:en", eng), ("name:zh", chi2)]
        elif cat == "F":  # names the list does not know
            tags += [("name:en", " ".join(rng.sample(UNKNOWN_EN, 2))
                      + " Road"),
                     ("name:zh", "".join(rng.sample(UNKNOWN_ZH, 2)) + "路")]
        elif cat == "G":  # no names at all
            pass
        elif cat == "H":  # stale Chinese name
            tags += [("name", f"{chi} {eng}"), ("name:en", eng),
                     ("name:zh", chi + STALE_ZH)]
            updated = True
        elif cat == "I":  # repeated name:en, the last one right
            tags += [("name:en", eng.upper()), ("name:zh", chi),
                     ("name", f"{chi} {eng}"), ("name:en", eng)]
            updated = True
        if updated:
            self.name_updated.add(wid)
        if cat in "ABCDHI":  # exactly one list entry among the versions
            self.street_canon[wid] = (eng, chi)
        self.appended += appended

    def make_ways(self, n_ways):
        rng = self.rng
        node_ids = [a["id"] for a, _ in self.nodes]
        wid = 200_000_000
        for i in range(n_ways):
            wid += rng.randint(1, 9)
            attrs = self.meta(i, wid)
            k = rng.randint(2, 12)
            start = rng.randrange(len(node_ids) - k)
            nds = node_ids[start:start + k]
            tags = []
            r = rng.random()
            if r < 0.45:
                tags.append(("highway", rng.choice(STREET_VALUES)))
                self.street_tags(str(wid), tags)
                if rng.random() < 0.3:
                    tags.append(("oneway", "yes"))
            elif r < 0.8:
                nds = nds + nds[:1]  # closed outline
                tags.append(("building", rng.choice(["yes", "residential",
                                                     "commercial"])))
                if rng.random() < 0.3:
                    tags.append(("amenity", rng.choice(AMENITIES)))
                if rng.random() < 0.5:
                    eng, chi = rng.choice(self.lookup)
                    tags.append(("name", f"{chi} {eng}"))
                if rng.random() < 0.2:
                    self.phone_tags("way", str(wid), tags)
                self.extra_tags(tags)
            else:
                tags.append(rng.choice([("highway", rng.choice(OTHER_HIGHWAYS)),
                                        ("landuse", "grass"),
                                        ("natural", "water")]))
                if rng.random() < 0.2:
                    tags.append(("source", "Bing"))
            self.ways.append((attrs, nds, tags))

    def make_relations(self, n_rel):
        rng = self.rng
        rid = 7_000_000
        for i in range(n_rel):
            rid += rng.randint(1, 9)
            attrs = self.meta(i, rid)
            members = []
            for _ in range(rng.randint(1, 6)):
                if rng.random() < 0.5:
                    members.append(("way", rng.choice(self.ways)[0]["id"],
                                    rng.choice(["outer", "inner", ""])))
                else:
                    members.append(("node", rng.choice(self.nodes)[0]["id"],
                                    rng.choice(["stop", "platform", ""])))
            tags = [("type", rng.choice(["multipolygon", "route"])),
                    ("name:en", "Route " + str(i))]
            self.relations.append((attrs, members, tags))

    def build(self):
        self.make_official(max(40, self.n_nodes // 100))
        self.make_users(max(10, self.n_nodes // 150))
        self.make_nodes()
        self.make_ways(max(10, self.n_nodes // 7))
        self.make_relations(max(3, self.n_nodes // 150))
        return self

    # ---- output ------------------------------------------------------------
    @staticmethod
    def attrs_xml(attrs, order):
        return " ".join(f'{k}="{escape(attrs[k], {chr(34): "&quot;"})}"'
                        for k in order)

    @staticmethod
    def tags_xml(tags):
        return "".join(f'  <tag k="{escape(k, {chr(34): "&quot;"})}" '
                       f'v="{escape(v, {chr(34): "&quot;"})}"/>\n'
                       for k, v in tags)

    def osm_xml(self):
        node_order = ["id", "visible", "version", "changeset", "timestamp",
                      "user", "uid", "lat", "lon"]
        way_order = node_order[:7]
        out = ["<?xml version='1.0' encoding='UTF-8'?>\n",
               '<osm version="0.6" generator="perfbench gen_osm">\n',
               ' <bounds minlat="22.2" minlon="114.0" maxlat="22.5" '
               'maxlon="114.3"/>\n']
        for attrs, tags in self.nodes:
            head = f' <node {self.attrs_xml(attrs, node_order)}'
            out.append(f"{head}>\n{self.tags_xml(tags)} </node>\n" if tags
                       else f"{head}/>\n")
        for attrs, nds, tags in self.ways:
            out.append(f' <way {self.attrs_xml(attrs, way_order)}>\n')
            out.extend(f'  <nd ref="{r}"/>\n' for r in nds)
            out.append(f"{self.tags_xml(tags)} </way>\n")
        for attrs, members, tags in self.relations:
            out.append(f' <relation {self.attrs_xml(attrs, way_order)}>\n')
            out.extend(f'  <member type="{t}" ref="{r}" role="{role}"/>\n'
                       for t, r, role in members)
            out.append(f"{self.tags_xml(tags)} </relation>\n")
        out.append("</osm>\n")
        return "".join(out)

    def official_xml(self):
        out = ['<?xml version="1.0" encoding="UTF-8"?>\n<Root>\n']
        for eng, chi, district in self.official_rows:
            out.append("  <Row>\n")
            out.append(f"    <English_Street_Name>{escape(eng)}"
                       "</English_Street_Name>\n")
            out.append(f"    <Chinese_Street_Name>{escape(chi)}"
                       "</Chinese_Street_Name>\n" if chi is not None
                       else "    <Chinese_Street_Name/>\n")
            if district is not None:
                out.append(f"    <District_Code>{district}</District_Code>\n")
            out.append("  </Row>\n")
        out.append("</Root>\n")
        return "".join(out)

    def final_tags(self, kind, id_, tags):
        """The element's CSV tag rows (id, key, value, type) after the
        phone and street-name fixes, as the spec defines them: phone-key
        values canonicalised; on a street way matching one list entry,
        every name / name:en / name:zh rewritten to that entry and the
        missing ones appended (en, zh, name)."""
        canon = self.street_canon.get(id_) if kind == "way" else None
        names = {"name:en": 0, "name:zh": 1, "name": 2}
        rows, present = [], set()
        for i, (k, v) in enumerate(tags):
            if dropped(k):
                continue
            v = self.phone_fixed.get((kind, id_, i), v)
            if canon and k in names:
                present.add(k)
                v = (canon[0], canon[1], f"{canon[1]} {canon[0]}")[names[k]]
            rows.append((id_, key_of(k), v,
                         k.split(":", 1)[0] if ":" in k else "regular"))
        if canon:
            eng, chi = canon
            for k, row in (("name:en", ("en", eng, "name")),
                           ("name:zh", ("zh", chi, "name")),
                           ("name", ("name", f"{chi} {eng}", "regular"))):
                if k not in present:
                    rows.append((id_,) + row)
        return rows

    def expected_csv_hashes(self):
        """sha256 of the sorted rows each fixed table must hold."""
        node_tags = [r for a, tags in self.nodes
                     for r in self.final_tags("node", a["id"], tags)]
        way_tags = [r for a, _, tags in self.ways
                    for r in self.final_tags("way", a["id"], tags)]
        history = ([(i, "node", "phone") for i in self.phone_updated["node"]]
                   + [(i, "way", "phone") for i in self.phone_updated["way"]]
                   + [(i, "way", "name") for i in self.name_updated])
        return {t: rows_sha256(rows) for t, rows in (
            ("nodes_tags", node_tags), ("ways_tags", way_tags),
            ("update_history", history))}

    def manifest(self):
        """Counts known by construction, independent of any engine."""
        node_tags = sum(not dropped(k) for _, tags in self.nodes
                        for k, _ in tags)
        way_tags = sum(not dropped(k) for _, _, tags in self.ways
                       for k, _ in tags)
        nd_refs = sum(len(nds) for _, nds, _ in self.ways)
        uids = ({a["uid"] for a, _ in self.nodes}
                | {a["uid"] for a, _, _ in self.ways})
        # buildings/amenities carry no street names, so their final tag
        # keys are the generated ones minus the dropped keys
        named = unnamed = 0
        for _, _, tags in self.ways:
            keys = {key_of(k) for k, _ in tags if not dropped(k)}
            if keys & {"amenity", "building"}:
                named += "name" in keys
                unnamed += "name" not in keys
        phone_nodes = len(self.phone_updated["node"])
        phone_ways = len(self.phone_updated["way"])
        by_id = {a["id"]: a["uid"] for a, _ in self.nodes}
        way_uid = {a["id"]: a["uid"] for a, _, _ in self.ways}
        updated_uids = ({by_id[i] for i in self.phone_updated["node"]}
                        | {way_uid[i] for i in self.phone_updated["way"]}
                        | {way_uid[i] for i in self.name_updated})
        n_updates = phone_nodes + phone_ways + len(self.name_updated)
        return {
            "seed": self.seed,
            "elements": {"nodes": len(self.nodes), "ways": len(self.ways),
                         "relations": len(self.relations)},
            "nd_refs": nd_refs,
            "members": sum(len(m) for _, m, _ in self.relations),
            "tags_kept": {"node": node_tags, "way": way_tags},
            "phone_rewrites": self.phone_rewrites,
            "street_name_fixes": len(self.name_updated),
            "street_tags_appended": self.appended,
            "csv_sha256": self.expected_csv_hashes(),
            "csv_rows": {"nodes": len(self.nodes),
                         "nodes_tags": node_tags,
                         "ways": len(self.ways),
                         "ways_nodes": nd_refs,
                         "ways_tags": way_tags + self.appended,
                         "update_history": n_updates},
            "explore": {"ways_count": len(self.ways),
                        "nodes_count": len(self.nodes),
                        "distinct_users": len(uids),
                        "name_updates": len(self.name_updated),
                        "phone_updates": phone_nodes + phone_ways,
                        "named_buildings_amenities": named,
                        "unnamed_buildings_amenities": unnamed},
            "updated_users": len(updated_uids),
            # clean list (before corrections): the usable entries, the
            # corrected and Shenzhen rows and the row without a district
            "official_clean_rows": self.n_usable + len(CORRECTED_ROWS)
            + len(SHENZHEN_ROWS) + 1,
        }


def rows_sha256(rows):
    """Order-free digest of string rows; `check.py` applies the same to the
    CSVs."""
    return hashlib.sha256("\n".join(
        "\t".join(r) for r in sorted(tuple(map(str, r)) for r in rows))
        .encode("utf-8")).hexdigest()


def write(out_dir, seed, n_nodes=16000):
    ex = Extract(seed, n_nodes).build()
    out = Path(out_dir)
    out.mkdir(parents=True, exist_ok=True)
    (out / "map.osm").write_text(ex.osm_xml(), encoding="utf-8")
    (out / "official.xml").write_text(ex.official_xml(), encoding="utf-8")
    manifest = ex.manifest()
    manifest["input_bytes"] = (out / "map.osm").stat().st_size
    (out / "manifest.json").write_text(json.dumps(manifest, indent=1))
    return manifest


if __name__ == "__main__":
    if len(sys.argv) not in (3, 4):
        sys.exit(__doc__)
    print(json.dumps(write(sys.argv[1], int(sys.argv[2]),
                           int(sys.argv[3]) if len(sys.argv) == 4 else 16000)))
