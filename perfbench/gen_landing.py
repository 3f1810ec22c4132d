#!/usr/bin/env python3
"""Seeded landing-set generator for the transform workloads.

Writes the four landing files that `Engine.transform` reads, shaped like
the reference's download output (one FeatureCollection document per
dataset), and returns the exact record counts the transform must emit.

Usage: python3 perfbench/gen_landing.py <bulk|probe> <seed> <out_dir> [scale]

The counts follow from the construction, not from running the program:

- Footprints never overlap within a layer. Each building owns one cell
  of its layer's grid and its ring stays inside the cell's inner box
  [0.1, 0.9]^2, and the cell's centre box [0.45, 0.55]^2 is strictly
  inside the footprint (see `footprint`).
- A toponym "inside" lies in the centre box of a surviving footprint of
  its layer; one "outside" lies in a cell's margin band (x < 0.08),
  outside every footprint of its layer.
- Dedup is first-seen by building id. A duplicate is always later in
  the file, so the first occurrence decides: a degenerate first
  occurrence (ring of fewer than 4 points) drops the building and
  suppresses its later, valid duplicate.
- Toponym ids are derived from the sheet and the coordinates, so a
  repeat of an earlier toponym's sheet and coordinates is dropped, and a
  repeat of its coordinates on another sheet is a new toponym.
- Layer roles: one layer has no layer-boroughs entry and one has an
  empty borough (both log "Can't find borough"); one extra layer holds
  toponyms but no buildings (its points log "Error computing
  intersection").

How many buildings and toponyms each layer gets, how many toponyms are
repeats and how many fall inside, outside or are polygons are exact
shares, not random draws, so every seed asks the program for the same
amount of work; the seed moves positions, ids, sheets and file order.
"""
import json
import math
import os
import random
import sys

MAIN_LAYERS = 12
CELL = 0.0004  # degrees, about 35 m
BOROUGHS = ["Manhattan", "Brooklyn", "Queens", "Bronx", "Staten Island"]

# Shapes of the two workloads at scale 1.
SHAPES = {
    # Building-heavy: toponyms are about 1% of buildings, layers uniform.
    "bulk": dict(buildings=9000, toponyms_per_building=0.01, zipf=0.0,
                 polygon_toponyms=0.10, inside=0.60),
    # Toponym-dense: about 10 points per building, Zipf(1.2) over layers.
    "probe": dict(buildings=500, toponyms_per_building=10.0, zipf=1.2,
                  polygon_toponyms=0.10, inside=0.60),
}
DUPLICATE_FRAC = 0.10
DEGENERATE_FRAC = 0.02
REPEAT_FRAC = 0.05
UNINDEXED_TOPONYM_FRAC = 0.02


def fc(path, features):
    """Write one FeatureCollection document, as the reference's download does."""
    with open(path, "w") as f:
        f.write('{"type":"FeatureCollection","features":[')
        f.write(",".join(json.dumps(x, separators=(",", ":")) for x in features))
        f.write("]}")
    return len(features)


def coord(v):
    return v


def weights(n, s):
    return [1.0 / (k + 1) ** s for k in range(n)]


def deck(rnd, items, w, n):
    """`n` items in random order, each as often as its share of the
    weights `w` gives (largest remainder), so the counts are the same
    for every seed."""
    total = sum(w)
    exact = [n * x / total for x in w]
    counts = [int(e) for e in exact]
    for k in sorted(range(len(w)), key=lambda k: counts[k] - exact[k])[:n - sum(counts)]:
        counts[k] += 1
    out = [item for item, c in zip(items, counts) for _ in range(c)]
    rnd.shuffle(out)
    return out


def footprint(rnd, x0, y0, degenerate):
    """Ring of a building in the cell at (x0, y0), counter-clockwise.

    The ring is star-shaped around the cell centre: 7 to 14 vertices at
    sorted angles, no two more than 82 degrees apart, at radii 0.15 to
    0.4 cells. It is simple, stays inside the inner box [0.1, 0.9]^2 and
    contains the disc of radius 0.15 cos(41 deg) > 0.11 cells around the
    centre, hence the centre box.
    """
    def pt(fx, fy):
        return [coord(x0 + fx * CELL), coord(y0 + fy * CELL)]
    if degenerate:
        a = pt(rnd.uniform(0.1, 0.4), rnd.uniform(0.1, 0.4))
        return [a, pt(rnd.uniform(0.6, 0.9), rnd.uniform(0.6, 0.9)), a]
    n = rnd.randint(7, 14)
    ring = []
    for k in range(n):
        theta = 2 * math.pi * (k + rnd.uniform(0.2, 0.8)) / n
        r = rnd.uniform(0.15, 0.4)
        ring.append(pt(0.5 + r * math.cos(theta), 0.5 + r * math.sin(theta)))
    ring.append(ring[0])
    return ring


def generate(kind, seed, out_dir, scale=1.0):
    shape = SHAPES[kind]
    rnd = random.Random(f"{kind}:{seed}")
    os.makedirs(out_dir, exist_ok=True)

    # Layers: 12 main layers plus one that gets toponyms only.
    layer_ids = [1100 + 7 * k for k in range(MAIN_LAYERS + 1)]
    unindexed = layer_ids[-1]
    no_entry, empty_borough = layer_ids[MAIN_LAYERS - 2], layer_ids[MAIN_LAYERS - 1]
    boroughs = []
    for k, lid in enumerate(layer_ids):
        if lid == no_entry:
            continue
        boroughs.append({"id": lid, "borough": "" if lid == empty_borough else BOROUGHS[k % 5]})
    with open(os.path.join(out_dir, "layer-boroughs.json"), "w") as f:
        json.dump(boroughs, f)
    missing_borough = {no_entry, empty_borough}

    sheets, sheets_of = [], {}
    for k, lid in enumerate(layer_ids):
        sheets_of[lid] = []
        for _ in range(4):
            sid = 860 + len(sheets)
            sheets_of[lid].append(sid)
            sheets.append({"type": "Feature", "properties": {
                "id": sid, "map_id": str(10000 + sid),
                "layer": {"external_id": lid, "year": str(1850 + 3 * k)}}})
    n_sheets = fc(os.path.join(out_dir, "sheets.geojson"), sheets)

    main = layer_ids[:MAIN_LAYERS]
    layer_w = weights(MAIN_LAYERS, shape["zipf"])
    n_buildings = max(MAIN_LAYERS, int(shape["buildings"] * scale))
    b_layers = deck(rnd, main, layer_w, n_buildings)
    per_layer = {lid: b_layers.count(lid) for lid in main}
    grid = {lid: max(1, math.ceil(math.sqrt(per_layer[lid]))) for lid in main}
    free_cells = {lid: rnd.sample(range(grid[lid] ** 2), per_layer[lid]) for lid in main}
    origin = {lid: (-74.05 + 0.03 * (k % 4), 40.60 + 0.03 * (k // 4)) for k, lid in enumerate(layer_ids)}

    def cell_origin(lid, cell):
        ox, oy = origin[lid]
        return ox + (cell % grid[lid]) * CELL, oy + (cell // grid[lid]) * CELL

    counts = dict.fromkeys(["object.building", "object.address", "object.toponym",
                            "relation.in", "relation.sameAs", "log.no_borough",
                            "log.no_building", "log.no_index"], 0)
    keyed = []  # (file position key, feature)
    survivors = {lid: [] for lid in layer_ids}  # cell origins of indexed footprints
    n_degenerate = max(3, int(DEGENERATE_FRAC * n_buildings))
    degenerate = set(rnd.sample(range(n_buildings), n_degenerate))
    duplicated = set(rnd.sample(range(n_buildings), int(DUPLICATE_FRAC * n_buildings)))
    # Degenerate first occurrences with a valid later duplicate.
    duplicated |= set(sorted(degenerate)[:3])
    for u in range(n_buildings):
        lid = b_layers[u]
        x0, y0 = cell_origin(lid, free_cells[lid].pop())
        bid = str(100000 + u)
        sheet = rnd.choice(sheets_of[lid])
        n_addr = rnd.choices([0, 1, 2, 3], [0.4, 0.3, 0.2, 0.1])[0]
        ring = footprint(rnd, x0, y0, u in degenerate)
        geometries = [{"type": "Polygon", "coordinates": [ring]}]
        for i in range(n_addr):
            if i == n_addr - 1 and rnd.random() < 0.2:
                break  # the last address has no point: its geometry is omitted
            geometries.append({"type": "Point", "coordinates": [
                coord(x0 + rnd.uniform(0.45, 0.55) * CELL), coord(y0 + rnd.uniform(0.45, 0.55) * CELL)]})
        if n_addr:
            address = [{"flag_value": str(rnd.randint(1, 400))} for _ in range(n_addr)]
        else:
            address = "NONE" if rnd.random() < 0.8 else []
        color = rnd.choice([None, None, None, None, None, "", "red", "red,blue", "yellow,pink", "blue"])

        def feature(ring_geometries, sheet_id):
            return {"type": "Feature", "properties": {
                "id": bid, "sheet_id": sheet_id, "map_id": str(20000 + u),
                "consensus_color": color, "consensus_address": address},
                "geometry": {"type": "GeometryCollection", "geometries": ring_geometries}}

        keyed.append((u, feature(geometries, sheet)))
        if u in duplicated:
            # A later copy with another footprint in the same cell and
            # possibly another sheet; first-seen dedup suppresses it.
            dup = [{"type": "Polygon", "coordinates": [footprint(rnd, x0, y0, False)]}]
            keyed.append((rnd.uniform(u + 0.5, n_buildings), feature(dup, rnd.choice(sheets_of[lid]))))
        if u in degenerate:
            continue
        survivors[lid].append((x0, y0))
        counts["object.building"] += 1
        counts["object.address"] += n_addr
        counts["relation.in"] += 2 + n_addr
        counts["log.no_borough"] += lid in missing_borough
    keyed.sort(key=lambda kv: kv[0])
    n_consolidated = fc(os.path.join(out_dir, "consolidated.geojson"), [f for _, f in keyed])

    # Toponyms.
    n_toponyms = max(20, int(n_buildings * shape["toponyms_per_building"]))
    t_layer_w = [w * (1 - UNINDEXED_TOPONYM_FRAC) / sum(layer_w) for w in layer_w] + [UNINDEXED_TOPONYM_FRAC]
    repeats = set(rnd.sample(range(3, n_toponyms), int(REPEAT_FRAC * n_toponyms)))
    n_new = n_toponyms - len(repeats)
    # The first few always land on the unindexed layer, so every set
    # exercises it.
    t_layers = [unindexed] * 3 + deck(rnd, layer_ids, t_layer_w, n_new - 3)
    inside = shape["inside"]
    outcomes = deck(rnd, ["polygon", "inside", "outside"],
                    [shape["polygon_toponyms"], inside, 1 - inside - shape["polygon_toponyms"]], n_new)
    seen = set()  # (sheet, geometry text): the toponym id's inputs
    toponyms, emitted = [], []
    for i in range(n_toponyms):
        if i in repeats:
            lid, sheet, geom, outcome = rnd.choice(emitted)
            if rnd.random() < 0.5:
                sheet = rnd.choice(sheets_of[lid])
        else:
            lid, outcome = t_layers[len(emitted)], outcomes[len(emitted)]
            if outcome == "inside" and not survivors[lid]:
                outcome = "outside"
            sheet = rnd.choice(sheets_of[lid])
            while True:
                if outcome == "polygon":
                    x0, y0 = cell_origin(lid, rnd.randrange(grid.get(lid, 1) ** 2)) if lid in grid else origin[lid]
                    fy = rnd.uniform(0.0, 0.5)
                    a = [coord(x0 + 0.01 * CELL), coord(y0 + fy * CELL)]
                    ring = [a, [coord(x0 + 0.07 * CELL), a[1]],
                            [coord(x0 + 0.07 * CELL), coord(y0 + (fy + 0.4) * CELL)], a]
                    geom = {"type": "Polygon", "coordinates": [ring]}
                elif outcome == "inside":
                    x0, y0 = rnd.choice(survivors[lid])
                    geom = {"type": "Point", "coordinates": [
                        coord(x0 + rnd.uniform(0.45, 0.55) * CELL), coord(y0 + rnd.uniform(0.45, 0.55) * CELL)]}
                else:
                    x0, y0 = cell_origin(lid, rnd.randrange(grid.get(lid, 1) ** 2)) if lid in grid else origin[lid]
                    geom = {"type": "Point", "coordinates": [
                        coord(x0 + rnd.uniform(0.0, 0.08) * CELL), coord(y0 + rnd.uniform(0.0, 1.0) * CELL)]}
                if (sheet, json.dumps(geom)) not in seen:
                    break
            emitted.append((lid, sheet, geom, outcome))
        toponyms.append({"type": "Feature", "properties": {"sheet_id": sheet, "consensus": f"Toponym {i}"},
                         "geometry": geom})
        key = (sheet, json.dumps(geom))
        if key in seen:
            continue  # same id as an earlier toponym: dropped
        seen.add(key)
        counts["object.toponym"] += 1
        counts["relation.in"] += 2
        counts["log.no_borough"] += lid in missing_borough
        if outcome == "polygon":
            continue
        if not survivors[lid]:
            counts["log.no_index"] += 1
        elif outcome == "inside":
            counts["relation.sameAs"] += 1
        else:
            counts["log.no_building"] += 1
    n_topo = fc(os.path.join(out_dir, "toponyms.geojson"), toponyms)

    size = sum(os.path.getsize(os.path.join(out_dir, f)) for f in os.listdir(out_dir))
    return {"counts": counts, "features": n_consolidated + n_topo + n_sheets,
            "buildings": n_consolidated, "toponyms": n_topo, "mb": size / 1e6}


if __name__ == "__main__":
    if len(sys.argv) not in (4, 5):
        sys.exit(__doc__.split("\n\n")[1])
    info = generate(sys.argv[1], int(sys.argv[2]), sys.argv[3],
                    float(sys.argv[4]) if len(sys.argv) == 5 else 1.0)
    print(json.dumps(info, indent=1))
