#!/usr/bin/env python3
"""Upload a fixed set of raw documents into a fresh lake with one checkout's code.

    python3 tools/lake_fixtures.py <checkout> <raw_dir> <lake_root>

Writes the documents into <raw_dir> (one sub-directory per domain), then
runs `graft.app.Process <domain> <glob> <lake_root>` for each domain in
<checkout>, all from one sbt session. Compare two such lakes with
`tools/lake_diff.py`. The documents are deterministic, so running this
against two checkouts tells whether a change alters what an upload
writes:

- vehicle: a 120-frame clip and a truncated sibling in the same glob
  (quarantined as `_corrupt_record`);
- people: the wrapped layout, schema inferred, with empty frames;
- parking: the wrapped slot-map layout with occupancy flips;
- retail, animal: frame arrays, schema inferred;
- safety: a `people` detection array with `missing_items` lists, an
  untracked person now and then and empty frames;
- school: events with role lists and alert levels, two per frame;
- common: a flat detection array keyed by `object_id`, some of it
  untracked (null id);
- pose: nested keypoints, no refine stage (pass-through);
- vehicle `crowd.json` and people `crowd.json`: 40 frames of 320
  trackers each, more keys than an object hash aggregate holds before
  it falls back to sorting (128 per task), with inexact confidences and
  speeds, so a change in the order an aggregate adds doubles shows.

Values come from small alphabets, so the per-entity modes meet count
ties; safety's tracker 2 and school's event 103 tie on count and on
first frame too. A change to the mode tie-break shows as a difference.
"""
import json
import os
import random
import subprocess
import sys

FRAMES = 120


def ts(f):
    return "2025-05-06 06:%02d:%02d" % (f // 60 % 60, f % 60)


def vehicle(rnd):
    frames = []
    for f in range(FRAMES):
        dets = [] if f % 10 == 9 else [
            {"tracker_id": t if f % 8 or j else -1,
             "confidence": round(rnd.uniform(0.3, 1.0), 3),
             "bbox": [f * 3.0, t * 5.0, f * 3.0 + 40, t * 5.0 + 30],
             "vehicle_type": ["car", "truck", "bus"][t % 3],
             "vehicle_color": ["red", "blue"][t % 2],
             "vehicle_speed": round(rnd.uniform(0, 90), 1),
             "vehicle_direction": rnd.choice(["Up", "Down"]),
             "vehicle_lane": rnd.choice(["Left Lane", "Middle Lane"]),
             "stopped": rnd.random() < 0.2,
             "red_light_violation": rnd.random() < 0.05,
             "line_crossing": rnd.random() < 0.1}
            for j, t in enumerate(range(1 + 4 * (f // 30), 5 + 4 * (f // 30)))]
        frames.append({"frame_number": f, "congestion_level": rnd.choice(["low", "high"]),
                       "traffic_light": rnd.choice(["red", "green"]), "detections": dets})
    return frames


def people(rnd):
    frames = []
    for f in range(FRAMES):
        dets = [] if f % 7 == 6 else [
            {"tracker_id": t, "confidence": round(rnd.uniform(0.3, 1.0), 3),
             "gender": rnd.choice(["Man", "Woman", "Unknown"]), "age": 20 + t,
             "bbox": [t * 10.0, 20.0, t * 10.0 + 100, 220.0],
             "in_restricted_area": rnd.random() < 0.1}
            for t in range(1 + f // 40, 4 + f // 40)]
        frames.append({"frame_number": f, "timestamp": ts(f), "detections": dets})
    return {"video_metadata": {"filename": "a.mp4", "duration_seconds": FRAMES / 2.0},
            "frame_detections": frames}


def parking(rnd):
    slots = [str(s) for s in range(1, 7)]
    state = {s: False for s in slots}
    frames = []
    for f in range(FRAMES):
        for s in slots:
            if rnd.random() < 0.08:
                state[s] = not state[s]
        frames.append({"frame_number": f, "timestamp_sec": f * 0.5,
                       "free_slots": sum(not v for v in state.values()),
                       "slots": {s: {"occupied": state[s],
                                     "bbox": [10.0 * int(s), 10.0, 50.0, 100.0]}
                                 for s in slots}})
    return {"parking_config": {"total_slots": len(slots), "detection_method": "manual"},
            "frame_detections": frames}


def retail(rnd):
    return [{"frame_number": f, "timestamp": ts(f), "detections": [
        {"product_id": "sku-%d" % p, "product_name": "item%d" % p,
         "category": ["dairy", "home"][p % 2], "location": "aisle-%d" % p,
         "stock_level": 50 - f // 3, "price": 1.5 + p,
         "picked_by_customer": rnd.random() < 0.2,
         "expiry_date": "2025-06-%02d" % (10 + p)} for p in range(f % 3, 5)]}
        for f in range(FRAMES)]


def animal(rnd):
    out = []
    for f in range(FRAMES):
        dets = []
        for a in range(3):
            x, y = 100.0 + 200 * a + f, 150.0 + 50 * a
            dets.append({"class_id": 19, "class_name": ["cow", "sheep", "horse"][a],
                         "confidence": round(rnd.uniform(0.4, 1.0), 3),
                         "bbox": [x, y, x + 80, y + 60], "center": {"x": x + 40, "y": y + 30},
                         "area": 4800, "frame_number": f, "timestamp": f / 30.0})
        out.append({"frame_number": f, "timestamp": f / 30.0, "detections": dets})
    return out


def safety(rnd):
    items = ["mask", "hardhat", "safety_vest"]
    frames = []
    for f in range(FRAMES):
        people = [] if f % 11 == 10 else [
            {"tracker_id": t if f % 9 or t % 2 else -1,
             "hardhat": rnd.random() < 0.7, "mask": rnd.random() < 0.6,
             "safety_vest": rnd.random() < 0.8,
             "safety_status": rnd.choice(["Safe", "Unsafe", "Unknown"]),
             # tracker 2 always misses the same two items: a tie on count
             # and on first frame, settled by the value
             "missing_items": ["mask", "hardhat"] if t == 2
             else rnd.sample(items, rnd.randint(0, 2)),
             "bbox": [t * 40.0 + f, 100.0 + f % 7, t * 40.0 + f + 50, 300.0]}
            for t in range(1 + f // 40, 4 + f // 40)]
        frames.append({"frame_number": f, "people": people})
    return frames


def school(rnd):
    frames = []
    for f in range(FRAMES):
        dets = [{"event_id": 100 + e, "event_type": ["fight", "fall", "crowd"][e % 3],
                 "timestamp": ts(f), "location": ["yard", "hall"][e % 2],
                 "confidence": round(rnd.uniform(0.3, 1.0), 3),
                 "involved_person_id": "p%d" % rnd.randint(1, 4),
                 "duration_seconds": rnd.randint(5, 30), "notes": rnd.choice(["", "note"]),
                 "alert_level": rnd.choice(["low", "medium", "high"]),
                 "response_required": rnd.random() < 0.3,
                 "multiple_persons_involved": rnd.random() < 0.5,
                 "person_roles": ["teacher", "student"] if e == 3
                 else rnd.sample(["student", "teacher", "staff"], 2)}
                for e in (f // 20, f // 20 + 3)]
        frames.append({"frame_number": f, "timestamp": ts(f), "detections": dets})
    return frames


def common(rnd):
    return [{"frame_number": f, "object_id": o if (f + o) % 13 else None,
             "class_id": o % 3, "class_name": ["person", "car", "dog"][o % 3],
             "confidence": round(rnd.uniform(0.3, 1.0), 3),
             "bbox": [o * 30.0 + f, 40.0, o * 30.0 + f + 25, 90.0]}
            for f in range(FRAMES) for o in range(1 + f // 30, 4 + f // 30)]


def pose(rnd):
    return [{"frame_number": f, "pose_data": [
        {"action": rnd.choice(["Up", "Down"]), "confidence": round(rnd.random(), 3),
         "keypoints": [{"landmark_id": k, "x": round(rnd.random(), 4),
                        "y": round(rnd.random(), 4), "z": round(rnd.random(), 4),
                        "visibility": round(rnd.uniform(-1, 1), 4)} for k in range(4)]}]}
        for f in range(FRAMES)]


CROWD, CROWD_FRAMES = 320, 40


def vehicle_crowd(rnd):
    return [{"frame_number": f, "detections": [
        {"tracker_id": t, "confidence": round(rnd.uniform(0.3, 1.0), 3),
         "bbox": [f * 2.0 + t, t * 3.0, f * 2.0 + t + 40, t * 3.0 + 30],
         "vehicle_type": ["car", "truck", "bus"][t % 3],
         "vehicle_color": ["red", "blue"][t % 2],
         "vehicle_speed": round(rnd.uniform(0, 90), 1),
         "vehicle_direction": rnd.choice(["Up", "Down"]),
         "vehicle_lane": rnd.choice(["Left Lane", "Middle Lane", "Right Lane"]),
         "stopped": rnd.random() < 0.2,
         "red_light_violation": rnd.random() < 0.05,
         "line_crossing": rnd.random() < 0.1}
        for t in range(1, CROWD + 1) if (f + t) % 7]}
        for f in range(CROWD_FRAMES)]


def people_crowd(rnd):
    frames = [{"frame_number": f, "timestamp": ts(f), "detections": [
        {"tracker_id": t, "confidence": round(rnd.uniform(0.3, 1.0), 3),
         "gender": rnd.choice(["Man", "Woman", "Unknown"]), "age": 20 + rnd.randint(0, 3),
         "bbox": [t * 2.0, 20.0, t * 2.0 + 100, 220.0],
         "in_restricted_area": rnd.random() < 0.1}
        for t in range(1, CROWD + 1) if (f + t) % 7]}
        for f in range(CROWD_FRAMES)]
    return {"video_metadata": {"filename": "crowd.mp4", "duration_seconds": CROWD_FRAMES / 2.0},
            "frame_detections": frames}


def write_fixtures(raw_dir):
    """Writes every document; returns [(domain, glob)] to upload."""
    docs = [("vehicle", "clip.json", vehicle), ("people", "clip.json", people),
            ("parking", "clip.json", parking), ("retail", "clip.json", retail),
            ("animal", "clip.json", animal), ("pose", "clip.json", pose),
            ("safety", "clip.json", safety), ("school", "clip.json", school),
            ("common", "clip.json", common),
            ("vehicle", "crowd.json", vehicle_crowd), ("people", "crowd.json", people_crowd)]
    uploads = []
    for i, (domain, name, make) in enumerate(docs):
        d = os.path.join(raw_dir, domain)
        os.makedirs(d, exist_ok=True)
        body = json.dumps(make(random.Random(1000 + i)), indent=1)
        with open(os.path.join(d, name), "w") as f:
            f.write(body)
        path = os.path.join(d, name)
        if (domain, name) == ("vehicle", "clip.json"):
            with open(os.path.join(d, "clip_resent.json"), "w") as f:
                f.write(body[:300])
            path = os.path.join(d, "clip*.json")
        uploads.append((domain, path))
    return uploads


def main(argv):
    if len(argv) != 4:
        sys.exit(__doc__)
    checkout, raw_dir, root = (os.path.abspath(a) for a in argv[1:])
    uploads = write_fixtures(raw_dir)
    cmds = ["runMain graft.app.Process %s %s %s" % (d, g, root) for d, g in uploads]
    subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true"] + cmds,
                   cwd=checkout, check=True)


if __name__ == "__main__":
    main(sys.argv)
